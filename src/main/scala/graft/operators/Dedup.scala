package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Checkpoints, Tables}
import graft.functions.PortableHash._
import graft.Checkpoints.Ops

/** Deduplication operators d21–d25 (SURVEY.md §2) over the `documents`
  * and `embeddings` tables — the LLM-training-data pipeline surface.
  *
  * Scale posture: no operator materializes O(n²) candidates globally.
  * Candidate generation is LSH-band buckets (d22), simhash chunk buckets
  * (d23), shingle inverted-index joins within a blocking key (d24), and
  * label blocking (d25). All hashes are [[graft.functions.PortableHash]]
  * (md5-based int64 arithmetic) so the DuckDB oracle reproduces them
  * bit-for-bit.
  */
object Dedup {

  /** Words + distinct 3-gram shingles; docs with <3 words excluded
    * (Spark's sequence(1, n) would go descending for n<1; DuckDB's
    * generate_series returns empty — semantics differ, so filter).
    */
  private[graft] def shingled(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // shingling + minhash kernels fuse onto this scan — rebalance so a
    // single-row-group file doesn't serialize the band family's
    // heaviest pass on one core (no-op on a real lake layout)
    Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("shingles", expr("graft_shingles3(words)"))
  }

  /** d21: exact dedup via md5 content hash; survivor = min doc_id. */
  def d21ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("content_hash")
  }

  /** Distinct minhash band-bucket candidate pairs (doc_a < doc_b) — the
    * shared candidate graph for d22 (pair listing) and d26 (duplicate
    * cluster resolution). Unsorted; callers add presentation order.
    */
  private[operators] def minhashBandPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    minhashBandPairsOf(shingled(spark, dir))
  }

  /** Per-bucket frequency cap on the band-bucket pair join (VERDICT r13
    * item 1). A degenerate band key — boilerplate-heavy documents,
    * empty-shingle docs whose minhash collapses to the seed minima —
    * puts B docs in one bucket and the self-join emits B²/2 pairs from
    * it; at 100 TB one such bucket is the whole job. Buckets over the
    * cap are dropped entirely (the m35 [[Multimodal.ChunkdupDfCap]]
    * device at the band grain): a key shared by >cap documents is
    * boilerplate, not a near-dup signal — genuine near-dups still meet
    * in their other (selective) bands, and content overlap at scale is
    * d24's inverted index (itself df-capped at [[ShingleDfCap]]).
    * Mirrored verbatim in the DuckDB oracle's `bandsc` CTE
    * (PipelineOracles.d22PairsCtes — one definition for d22/d26/d35/
    * d36/p67/p71 and d38's recall harness). */
  val BandBucketCap = 50

  /** Band-pair candidate graph over any frame carrying `doc_id` +
    * `shingles` — the d22 definition, shared with d38's eval harness.
    *
    * One corpus pass, no self-join: band keys are computed single-pass
    * per document (graft_minhash_bands — no token explode, no signature
    * shuffle), then each bucket aggregates its member ids through
    * [[graft.functions.CappedLongCollect]] and the candidate pairs
    * explode LOCALLY from the ≤[[BandBucketCap]]-element survivor lists.
    * The first r15 cut expressed the cap as a count window over the
    * band key — sound when the pair join is a sort-merge (the window
    * rides the join's exchange, the d24 shape) but the band self-join
    * here planned as a BROADCAST off scan stats, so the window CREATED
    * the exchange+sorts it claimed to ride (d35 at sf1: 11.1 → 17.8 s).
    * The aggregate form is also the 100 TB shape outright: the broadcast
    * self-join dies at cluster scale, while bucket-grain lists keep one
    * linear exchange, bounded buffers (an over-cap bucket stores 16
    * bytes, never a list), and zero join. */
  private[graft] def minhashBandPairsOf(sh: DataFrame,
      pairOnly: Option[Column] = None): DataFrame = {
    graft.functions.GraftFunctions.register(sh.sparkSession)
    // pairOnly (d38's eval harness): the CAP must see the full corpus —
    // bucket survival is a property of the production index, so a
    // sample predicate may not prune the scan — but only docs matching
    // the predicate need their ids collected for pair emission. Collecting
    // `when(pred, doc_id)` (the aggregate skips nulls) keeps the
    // exchange at ≤ sample ids per bucket while `cn` counts everyone.
    val member = pairOnly
      .map(p => when(p, col("doc_id")))
      .getOrElse(col("doc_id"))
    sh.select(col("doc_id"),
        posexplode(expr("graft_minhash_bands(shingles)")).as(Seq("band_idx", "band_key")))
      .groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("cn"),
        call_function("graft_collect_capped", member, lit(BandBucketCap)).as("docs"))
      .filter(col("cn") <= BandBucketCap && size(col("docs")) >= 2)
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** d22: MinHash + LSH banding near-dup candidate pairs.
    * 16 portable minhashes, 4 bands × 4 rows; docs sharing any band
    * bucket become a candidate pair. Linear in corpus size: the only
    * join is band-bucket self-join (skew-bounded by band selectivity).
    */
  def d22MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashBandPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** d35 edit-distance verification window (chars) and the similarity
    * bar a verified pair must clear. */
  val EditVerifyPrefix = 256
  val EditVerifySimPm = 8000L

  /** d35: exact edit-distance VERIFICATION of d22's near-dup candidates
    * — the confirm stage every probabilistic dedup pipeline runs after
    * candidate generation (MinHash recalls, the verifier decides; a
    * band collision alone is not a duplicate). Each candidate pair is
    * scored by Levenshtein distance over the first [[EditVerifyPrefix]]
    * chars — the standard bounded-work verifier: full-text DP is
    * O(len²) per pair and unbounded documents would make pair cost
    * data-dependent, while a fixed prefix window caps it at a constant
    * (and near-dups that diverge only past the window are exactly the
    * shingle family's job to rank — d24 owns content overlap).
    * sim_pm = (window − lev)·10000 div window over the larger clamped
    * length; verified iff ≥ [[EditVerifySimPm]]. Both engines run the
    * textbook DP (`levenshtein`), so the score is engine-exact.
    *
    * 100 TB posture: the candidate graph is d22's (shared definition,
    * never all-pairs); texts attach through two equi-joins of the pair
    * list against the corpus (pairs ≪ corpus — the join shuffles
    * pairs + the corpus projection, never corpus²); the DP runs
    * per-pair at a constant ≤256² cell budget, codegen'd, no UDF.
    */
  def d35EditVerify(spark: SparkSession, dir: String): DataFrame = {
    val txt = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(col("text"), 1, EditVerifyPrefix).as("pfx"))
    minhashBandPairs(spark, dir)
      .join(txt.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), Seq("doc_b"))
      .withColumn("lev", levenshtein(col("pfx_a"), col("pfx_b")).cast("long"))
      .withColumn("win", greatest(length(col("pfx_a")), length(col("pfx_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        expr("(win - lev) * 10000 DIV win").as("sim_pm"))
      .withColumn("verified",
        (col("sim_pm") >= EditVerifySimPm).cast("int"))
      .orderBy("doc_a", "doc_b")
  }

  /** Minimum-label connected components over an undirected edge list
    * (u, v), u ≠ v. Returns (node, cluster_id) where cluster_id is the
    * smallest node id in the component — every node that appears in at
    * least one edge gets a row; an empty edge list gives no rows.
    *
    * Algorithm: min-label propagation with a pointer-jump step each
    * round (newlab(u) = min over neighbors' labels, then chase the
    * label's OWN label — labels are node ids, so label composition is an
    * equi-join). Plain propagation needs O(diameter) rounds; the jump
    * step short-circuits long chains. Each round is two linear equi-joins
    * + one aggregation — nothing is ever all-pairs — and runs on
    * [[graft.Checkpoints.fixpoint]], which truncates lineage so the plan
    * does not grow with iteration count (reliable `checkpoint()` at
    * cluster scale, as for q46).
    *
    * Convergence is observed, not probed: each round carries its input
    * label as `old`, and the fixpoint loop counts `lab =!= old` on the
    * round's own checkpoint job; the first round that changes no label
    * ends the loop.
    *
    * Fixpoint = component minimum: labels only decrease and never go
    * below the component min μ; a fixpoint label is constant per
    * component (an edge with unequal labels would still propagate), and
    * a constant label m > μ is impossible because lab(μ) ≤ μ < m.
    */
  def connectedComponents(edgesRaw: DataFrame, maxIters: Int = 30): DataFrame = {
    // materialize the edge list once — it is re-joined every round, and
    // without the checkpoint each round would re-evaluate the whole
    // upstream candidate-generation lineage (shingle + band join)
    val edges = edgesRaw.select(col("u"), col("v"))
      .unionByName(edgesRaw.select(col("v").as("u"), col("u").as("v")))
      .graftCheckpoint()
    // init lab(u) = min(u, neighbors): the first propagation round folded
    // into the aggregation that materializes the node set; the label it
    // replaces is the node's own id
    val init = edges.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), least(col("u"), col("mn")).as("lab"),
        col("u").as("old"))
    def round(lab: DataFrame): DataFrame = {
      // 1) propagate: minimum label over the closed neighborhood
      val nbr = edges.as("e").join(lab.as("l"), col("e.v") === col("l.node"))
        .groupBy(col("e.u").as("node")).agg(min(col("l.lab")).as("nlab"))
      val cand = lab.as("x").join(nbr.as("y"), col("x.node") === col("y.node"))
        .select(col("x.node").as("node"),
          least(col("x.lab"), col("y.nlab")).as("clab"), col("x.lab").as("old"))
      // 2) pointer jump: a label is itself a node — adopt ITS label
      // (left join: the current label-holder may carry no smaller label)
      cand.as("c").join(lab.as("j"), col("c.clab") === col("j.node"), "left")
        .select(col("c.node").as("node"),
          least(col("c.clab"), coalesce(col("j.lab"), col("c.clab"))).as("lab"),
          col("c.old").as("old"))
    }
    Checkpoints.fixpoint(init, col("lab") =!= col("old"), maxIters,
        "connected components", "old")(round)
      .head.select(col("node"), col("lab").as("cluster_id"))
  }

  /** d26: duplicate-cluster resolution — the near-dup graph's TRANSITIVE
    * closure, which is what a production dedup actually deletes against:
    * d22 emits candidate PAIRS, but a cluster {A,B,C} discovered as
    * (A,B), (B,C) must keep exactly one survivor even though (A,C) was
    * never emitted. Connected components over the d22 band-pair graph,
    * cluster id = smallest member, survivor = the id-min member (the
    * same election rule as d21/p55). Docs with no near-dup candidate are
    * singletons by definition and are not materialized.
    */
  /** Near-dup components over the d22 band-pair graph —
    * (doc_id, cluster_id), non-singleton docs only. The ONE cluster
    * definition shared by d26/d31 (survivor election) and p71
    * (leakage-safe splitting). */
  private[operators] def nearDupComponents(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashBandPairs(spark, dir)
    connectedComponents(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** Near-dup cluster assignment over the d22 band-pair graph —
    * (doc_id, cluster_id, cluster_size). Shared by d26 (min-id
    * survivors) and d31 (quality-elected survivors). */
  private def clusterAssignments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    nearDupComponents(spark, dir)
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  def d26DupClusters(spark: SparkSession, dir: String): DataFrame = {
    clusterAssignments(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** d31: quality-aware survivor election — production pipelines keep
    * the BEST copy of a duplicate cluster, not the arbitrary min-id
    * (SEO mirrors often carry degraded copies of the original). Each
    * d26 cluster elects the member with the highest t29 quality score,
    * ties broken by min doc_id — expressed as max-score + min-id-at-max
    * (two deterministic aggregates, never an arbitrary-tie arg_max),
    * with the election shown against the min-id baseline it replaces.
    *
    * 100 TB posture: the quality join touches only cluster MEMBERS
    * (near-dup population, a small corpus fraction); both aggregates
    * run on the cluster grain with map-side combine; scoring reuses
    * t29's column chain (one definition, [[TextAnalysis.withQualityScore]]).
    */
  def d31QualitySurvivor(spark: SparkSession, dir: String): DataFrame = {
    val members = clusterAssignments(spark, dir)
      .join(TextAnalysis.withQualityScore(
          Tables.documents(spark, dir)
            .withColumn("words", split(col("text"), " ")))
          .select(col("doc_id"), col("score_x10000")),
        Seq("doc_id"))
    val best = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max(col("score_x10000")).as("best_score"))
    members.join(best, Seq("cluster_id"))
      .filter(col("score_x10000") === col("best_score"))
      .groupBy("cluster_id", "n_members", "best_score")
      .agg(min(col("doc_id")).as("survivor_id"))
      .withColumn("differs_from_min_id",
        (col("survivor_id") =!= col("cluster_id")).cast("int"))
      .select(col("cluster_id"), col("n_members"), col("survivor_id"),
        col("best_score"), col("differs_from_min_id"))
      .orderBy("cluster_id")
  }

  /** Manku-style combination-key bucketing for the 48-bit simhash
    * (Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW 2007 — the public construction). The hash splits into
    * SimBlocks = 6 blocks of SimBlockBits = 8 bits. A pair at hamming
    * ≤ SimMaxHamming = 3 has its differing bits inside ≤ 3 blocks, so
    * ≥ 6 − 3 = 3 blocks are identical — by pigeonhole the pair shares at
    * least one of the C(6,3) = 20 block-*triples*, so keying every doc on
    * all 20 concatenated triples (24-bit keys) gives TOTAL recall at the
    * threshold. Scale math vs the r02 single-chunk layout: 20 key spaces
    * of 2²⁴ = 16.7 M buckets each, so E[random candidate pairs] ≈
    * 20·C(n,2)/2²⁴ ≈ n²/1.7M — ~800× fewer spurious candidates than the
    * 12-bit chunks (n²/2048) at the cost of 20 keys/doc instead of 4.
    * Candidate volume stays governable at 10⁹ docs by widening blocks;
    * the recall guarantee is structural, not tuned.
    */
  val SimBlocks = 6
  val SimBlockBits = 8
  val SimMaxHamming = 3

  /** The C(6,3)=20 block-index triples, lexicographic — the oracle SQL is
    * generated from this same sequence so both engines key identically. */
  val SimCombos: Seq[Seq[Int]] =
    (0 until SimBlocks).combinations(SimBlocks - SimMaxHamming).toSeq

  /** Cap on the number of documents sharing one 48-bit signature (r15,
    * the [[BandBucketCap]]/[[ShingleDfCap]]/[[Multimodal.ChunkdupDfCap]]
    * device at the signature grain). A signature class of g docs emits
    * C(g,2) hamming-0 pairs and multiplies every cross-class pair by
    * g_a·g_b — quadratic in the class size, and at 100 TB boilerplate
    * classes run to millions. Docs in over-cap classes are excluded
    * from d23's pair listing entirely: an over-cap identical-signature
    * class is exact-duplicate territory (d21 counts it, d26/d31
    * resolve a survivor), not a near-dup signal — and the band cap
    * already drops the same docs from d22's listing, so the family
    * semantics agree. Mirrored in the oracle's `sc`/`sims` CTEs
    * (PipelineOracles.d23Sql). */
  val SimClassCap = 50L

  /** Combination-key simhash candidate pairs with exact hamming filter.
    * Input: (doc_id, simhash). Output: (doc_a, doc_b, hamming ≤ maxHamming).
    *
    * The candidate join runs over DISTINCT signatures, not docs: web-ish
    * corpora are dominated by exact/near-exact duplicates, and a
    * signature shared by g docs would otherwise re-enumerate C(g,2)
    * pairs × 20 combo keys in the join (hamming-0 pairs share ALL 20
    * keys — worst multiplicity). Signature pairs expand back to doc
    * pairs afterwards with two cheap equi-joins, and same-signature doc
    * pairs are emitted directly at hamming 0 — so the expensive join is
    * |distinct sigs|², not |docs|², and carries multiplicity ≤ C(5,3)=10
    * (a cross-sig pair has ≥ 1 dirty block).
    *
    * Exposed separately so tests can plant boundary signatures (a pair at
    * exactly maxHamming with its differing bits spread across maxHamming
    * distinct blocks) and assert recall.
    */
  def simhashPairs(simsRaw: DataFrame, blocks: Int = SimBlocks,
      blockBits: Int = SimBlockBits, maxHamming: Int = SimMaxHamming): DataFrame = {
    graft.functions.GraftFunctions.register(simsRaw.sparkSession)
    // ONE aggregation to the signature grain carries the whole operator:
    // bySig = (simhash, member doc ids) with over-[[SimClassCap]] classes
    // evaluating to null inside graft_collect_capped (bounded buffers —
    // a boilerplate class stores a count, never a list). Every downstream
    // arm (combination keys, cross-class attach, intra-class pairs) works
    // on this sig-grain relation, so the corpus scan + simhash kernel run
    // ONCE under the groupBy exchange and ReuseExchange folds the arms'
    // replays. The first r15 cut kept the doc grain and anti-joined a
    // broadcast hot list, which re-ran the scan+kernel per arm (5 passes;
    // +9.5 s at sf1) — the aggregate IS the anti-join, one pass.
    val bySig = simsRaw.groupBy("simhash")
      .agg(expr(s"graft_collect_capped(doc_id, $SimClassCap)").as("docs"))
      .filter(col("docs").isNotNull)
    val blockMod = 1L << blockBits
    def block(i: Int) =
      expr(s"(simhash div ${1L << (blockBits * i)}) % $blockMod")
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val keyCols = combos.zipWithIndex.map { case (c, idx) =>
      val key = c.foldLeft(lit(0L): Column)((acc, i) => acc * blockMod + block(i))
      struct(lit(idx).as("k"), key.as("ckey"))
    }
    val keyed = bySig
      .select(col("simhash"), explode(array(keyCols: _*)).as("c"))
      .select(col("simhash"), col("c.k").as("k"), col("c.ckey").as("ckey"))
    val a = keyed.as("a"); val b = keyed.as("b")
    val sigPairs = a.join(b,
        col("a.k") === col("b.k") && col("a.ckey") === col("b.ckey") &&
        col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
      // filter before distinct: drop above-threshold collisions before
      // the dedup shuffle rather than after
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // a doc has exactly one signature, so distinct sig pairs × member
    // lists can never emit a doc pair twice — no second distinct
    val cross = sigPairs
      .join(bySig.select(col("simhash").as("sig_a"), col("docs").as("docs_a")), Seq("sig_a"))
      .join(bySig.select(col("simhash").as("sig_b"), col("docs").as("docs_b")), Seq("sig_b"))
      .select(explode(col("docs_a")).as("ida"), col("docs_b"), col("hamming"))
      .select(col("ida"), explode(col("docs_b")).as("idb"), col("hamming"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val intra = bySig.filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("ida"), col("docs"))
      .select(col("ida"), explode(col("docs")).as("idb"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** d23: 48-bit SimHash + combination-key hamming near-dup pairs.
    * Token hashes fold into a sign-vector simhash; 20 block-triple keys
    * bucket candidates; exact hamming ≤ 3 filters. Recall is total at
    * that threshold for docs in listed classes; candidate volume is
    * linear-ish (see [[SimCombos]]) with over-cap signature classes
    * excluded entirely ([[SimClassCap]] — the family's boilerplate
    * guard; their docs are d21/d26's exact-dup job).
    */
  def d23Simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // single-pass 48-bit signature per document — replaces the
    // token × bit-position explode (millions of rows, two shuffles).
    // The r13 "no rebalance" adjudication is obsolete: it protected the
    // doc-grain attach/intra joins' scan-stats broadcasts, and the
    // sig-grain simhashPairs has no such joins — the kernel now runs
    // once under the signature groupBy, so the family-wide rebalance
    // (parallelize a split-starved scan before a compute-heavy kernel)
    // applies here like everywhere else.
    val sims = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .select(col("doc_id"),
        expr("graft_simhash48(array_distinct(split(text, ' ')))").as("simhash"))
    simhashPairs(sims)
  }

  /** Document-frequency cap on shingle postings (d24). A shingle present
    * in k docs contributes C(k,2) join rows — quadratic in k — so
    * stopword-like shingles (df in the thousands on a real web corpus)
    * would dominate the self-join at 100 TB. Postings longer than this
    * are dropped before the join: standard near-dup practice — a shingle
    * shared by >50 docs carries no near-duplicate signal anyway.
    */
  val ShingleDfCap = 50

  /** d24: 3-gram Jaccard similarity pairs within a blocking key (source).
    * Inverted-index join on shingles (never all-pairs): pairs sharing a
    * shingle get an intersection count; union from per-doc shingle counts.
    * Postings are df-capped (see [[ShingleDfCap]]) so no shingle can
    * produce a quadratic join blow-up; `inter` therefore counts shared
    * *rare* shingles while na/nb keep full per-doc counts — both engines
    * mirror the same estimate.
    */
  def d24NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // join on the 60-bit portable hash of the shingle, not the string
    // (smaller shuffle rows, cheaper compares; the oracle hashes
    // identically so a collision would be consistent), and carry each
    // doc's shingle count THROUGH the explode — the per-doc size is known
    // before unnesting, so no separate count aggregation and no join
    // back (1 self-join total instead of 3 joins + a third evaluation
    // of the shingle pipeline)
    import org.apache.spark.sql.expressions.Window
    // df-cap via a count window over (source, x): ONE shuffle that the
    // self-join below (same keys) reuses via ReuseExchange — a separate
    // hot-key aggregate + anti-join was measured 2× slower (r3) because
    // its aggregation exchange differs from the join's, forcing the whole
    // shingling pipeline to evaluate twice; a collect_list posting-list
    // formulation (pairs generated locally by chained explodes, no join)
    // was measured ~40% slower again (r4) — this corpus is near-dup
    // dense, so posting lists are long and ObjectHashAggregate's list
    // buffers cost more than the SMJ the window's sort already feeds
    graft.functions.GraftFunctions.register(spark)
    // graft_shingle_hashes3 hashes each distinct shingle INSIDE the
    // expression, so the explode emits fixed-width int64s and no shingle
    // string ever reaches the shuffle (VERDICT r3 #1: the string column
    // previously rode through the window + join exchanges, ~4× the bytes)
    val sh = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), col("source"),
        expr("graft_shingle_hashes3(words)").as("xs"))
      .select(col("doc_id"), col("source"), size(col("xs")).as("nsh"),
        explode(col("xs")).as("x"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("source", "x")))
      // df = 1 postings (the majority — most shingles are unique) cannot
      // form a pair; dropping them here cuts the self-join input, and the
      // filter rides the window projection for free
      .filter(col("df").between(2, ShingleDfCap))
      .drop("df")
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b,
        col("a.source") === col("b.source") && col("a.x") === col("b.x") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.source").as("source"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"), col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", (col("na") + col("nb")).cast("long") - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni").cast("double"), 4))
      .filter(col("jaccard") >= 0.5)
      .select("source", "doc_a", "doc_b", "inter", "uni", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** d36: signature-space Jaccard ESTIMATION over d22's candidate pairs
    * — the Broder minhash theorem applied as an operator (P[h_min(A) =
    * h_min(B)] = J(A,B); STOC'97/'98 construction): estimate = the
    * fraction of the 16 minhash components that agree, computed from
    * the SIGNATURES ALONE. This is what production dedup ranks
    * candidates by at 100 TB — the signatures are already materialized
    * by the LSH index, so ranking costs 16 integer compares per pair
    * with NO access to document content (d24's exact posting
    * intersection re-touches the corpus; d35's verifier re-reads
    * text). The exact Jaccard (distinct shingle-hash sets) rides
    * alongside as the estimator-error report — the q49/q51 sketch+
    * error pattern; production drops those columns and keeps the
    * content-free estimate.
    *
    * 100 TB posture: the candidate graph is d22's (shared definition);
    * signatures and hash sets attach by two equi-joins of the pair
    * list (pairs ≪ corpus); per-pair cost is 16 compares + one bounded
    * array intersection (exact columns only). Nothing is all-pairs.
    */
  def d36SigJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.PortableHash.NumMinhash
    val docs = shingled(spark, dir)
      .select(col("doc_id"),
        expr("graft_minhash_sig(shingles)").as("sig"),
        // distinct RAW 60-bit hashes: a (consistent, shared-hash)
        // collision must not double-count either side's intersection
        array_distinct(expr("graft_shingle_hashes3(words)")).as("hs"))
    minhashBandPairs(spark, dir)
      .join(docs.select(col("doc_id").as("doc_a"),
        col("sig").as("sa"), col("hs").as("ha")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("sig").as("sb"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("n_match", expr(
        "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
        .cast("long"))
      .withColumn("n_inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("n_union",
        (size(col("ha")) + size(col("hb"))).cast("long") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        expr(s"n_match * 10000 DIV $NumMinhash").as("jaccard_est_pm"),
        expr("n_inter * 10000 DIV n_union").as("jaccard_exact_pm"))
      .withColumn("err_pm", abs(col("jaccard_est_pm") - col("jaccard_exact_pm")))
      .orderBy("doc_a", "doc_b")
  }

  /** d27 batch membership rule: every 5th doc_id is "newly arrived", the
    * rest are the standing corpus. Deterministic arithmetic both engines
    * reproduce (the q46 pattern for synthesized structure). */
  val IncrementalBatchMod = 5

  /** d27: incremental corpus dedup — admit a NEW batch against an
    * EXISTING corpus, the shape every continuously-ingesting training
    * pipeline runs (p55 is the from-scratch clean; this is the nightly
    * increment). Per new doc, precedence-ordered status:
    *
    *   - `exact_corpus`: content hash already in the corpus (if so, every
    *     batch doc with that hash is exact_corpus — so batch leadership
    *     below never interacts with corpus hits);
    *   - `exact_batch`: another batch doc with the same content hash and
    *     a smaller doc_id (the id-min batch doc is the leader, d21 rule);
    *   - `near_corpus`: shares ≥1 minhash band bucket with a corpus doc
    *     (d22's candidate rule applied batch→corpus);
    *   - `admitted`.
    *
    * Near-dup WITHIN the batch is deliberately out of scope here — the
    * admitted set is re-led by p55's bucket-minimum rule on the next full
    * pass; checking it incrementally would re-derive d22 on the batch.
    *
    * Scale posture: no self-join anywhere — the batch side is small by
    * definition, and both checks are linear equi-joins against corpus
    * INDEXES (the distinct content-hash set on h; the distinct band
    * buckets on (band_idx, band_key)) that a production deployment keeps
    * materialized between increments. AQE broadcasts the batch side when
    * it fits; the corpus side streams. The within-batch leader window
    * partitions on h — one narrow shuffle of the batch only.
    */
  def d27IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    val withH = Tables.documents(spark, dir).withColumn("h", md5(col("text")))
    val corpusH = withH.filter(!isBatch).select(col("h")).distinct()
      .withColumn("in_corpus", lit(true))
    val bands = shingled(spark, dir)
      .select(col("doc_id"),
        posexplode(expr("graft_minhash_bands(shingles)")).as(Seq("band_idx", "band_key")))
    val corpusBands = bands.filter(!isBatch)
      .select("band_idx", "band_key").distinct()
    val nearIds = bands.filter(isBatch)
      .join(corpusBands, Seq("band_idx", "band_key"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("is_near", lit(true))
    withH.filter(isBatch)
      .withColumn("hmin", min(col("doc_id")).over(Window.partitionBy("h")))
      .join(corpusH, Seq("h"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in_corpus"), "exact_corpus")
          .when(col("doc_id") =!= col("hmin"), "exact_batch")
          .when(col("is_near"), "near_corpus")
          .otherwise("admitted").as("status"))
      .orderBy("doc_id")
  }

  /** d37: bloom-filter membership PRE-SCREEN for incremental admission
    * (Bloom CACM'70) — the approximate index that fronts d27's exact
    * check at 100 TB: the standing corpus's content-hash set compresses
    * into an M-bit filter (BloomBitsPerKey·n bits, here the distinct-
    * position relation — the same object as the bitmap, and mergeable
    * the same way: union = OR, built map-side), and an arriving doc
    * touches the exact hash index only if all K filter probes hit. A
    * bloom miss is DEFINITIVE (no false negatives — the filter's
    * contract, spec-pinned); a hit is provisional and the exact check
    * re-verifies, so the screen is semantics-preserving exactly like
    * q58's runtime bloom join. The report grades the filter against
    * d27's exact rule (the q49/q51 sketch+measured-error pattern):
    * per-outcome counts and batch shares, where false_positive share IS
    * the measured FP rate — pinned near (1−e^(−K·n/M))^K ≈ 0.24% by the
    * M-sizing rule (see [[graft.functions.PortableHash.BloomMinBits]];
    * fixed-M filters saturate at scale, the d28 nlist lesson).
    *
    * Scale posture: the sizing count is one planning aggregate (d28
    * precedent); build = one linear scan → ≤M-row distinct aggregate;
    * probe = K positions per batch doc equi-joined against the filter
    * relation (broadcast — an M-bit filter is KBs); classification =
    * one narrow batch-grain aggregate. The corpus TEXT is never touched
    * after the hash projection, and nothing is all-pairs.
    */
  def d37BloomAdmit(spark: SparkSession, dir: String): DataFrame =
    d37BloomCore(Tables.documents(spark, dir))

  /** d38 exact-truth sample bound (the s29/d25 discipline: the eval's
    * all-pairs truth is computed on a BOUNDED doc sample, never the
    * corpus). */
  val LshEvalSample = 2000L

  /** d38: LSH index-quality evaluation — s29's recall harness applied to
    * d22's band index (the dedup-side eval every production LSH
    * deployment ships): exact Jaccard ground truth on a bounded doc
    * sample (distinct shingle-hash postings self-joined within the
    * sample — the d36 exact-column device), true pairs (J ≥ 0.5) bucketed
    * into permyriad-thousand bands, each band reporting measured recall
    * (caught by a d22 band collision) against the theoretical banding
    * S-curve P(J) = 1 − (1 − J^r)^b at the band midpoint (r = 4 rows,
    * b = 4 bands — Broder/LSH standard analysis). The theory column is
    * computed by repeated multiplication, never pow() (libm pow is not
    * bit-identical across engines; products are).
    *
    * 100 TB posture: the truth side is sample²-bounded by construction
    * (explicit id bound, the s29 pattern — production evals sample);
    * the candidate side reuses d22's linear band join restricted to the
    * sample; the report grain is ≤6 bands. The harness answers the
    * operational question the 100 TB deployment asks: is the band
    * configuration catching the duplicates we care about, and where on
    * the S-curve does recall fall off.
    */
  def d38LshRecall(spark: SparkSession, dir: String): DataFrame =
    d38LshRecallCore(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — extracted so the spec can
    * drive constructed mid-Jaccard corpora (the synthetic corpus's
    * near-dups all sit in the 0.9+ bands) through the production plan. */
  private[graft] def d38LshRecallCore(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val sh = documents
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("shingles", expr("graft_shingles3(words)"))
    val docs = sh.filter(col("doc_id") < LshEvalSample)
      .select(col("doc_id"),
        array_distinct(expr("graft_shingle_hashes3(words)")).as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
    val post = docs.select(col("doc_id"), col("n"), explode(col("hs")).as("x"))
    val a = post.as("a"); val b = post.as("b")
    val truth = a.join(b,
        col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jpm", expr("inter * 10000 DIV (na + nb - inter)"))
      .filter(col("jpm") >= 5000)
      .select("doc_a", "doc_b", "jpm")
    // the cap counts FULL-corpus bucket population (index semantics) but
    // only sample ids are collected/paired — the predicate cannot prune
    // the scan (bucket survival needs everyone), so it rides the collect
    val found = minhashBandPairsOf(sh,
        pairOnly = Some(col("doc_id") < LshEvalSample))
      .withColumn("caught", lit(true))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .withColumn("band", expr("jpm DIV 1000"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("caught"), 1L).otherwise(0L)).as("n_caught"))
      .withColumn("recall_pm", expr("n_caught * 10000 DIV n_pairs"))
      .withColumn("s", when(col("band") === 10, lit(1.0))
        .otherwise((col("band") * 1000 + 500) / lit(10000.0)))
      .withColumn("t4", col("s") * col("s") * col("s") * col("s"))
      .withColumn("q1", lit(1.0) - col("t4"))
      .withColumn("theory_pm",
        round((lit(1.0) - col("q1") * col("q1") * col("q1") * col("q1")) * 10000, 0)
          .cast("long"))
      .select("band", "n_pairs", "n_caught", "recall_pm", "theory_pm")
      .orderBy("band")
  }

  /** The (doc_id, content-hash, bloom-key) projection SHARED by d37 and
    * st45 — one key definition for filter build, probe, and exact truth. */
  private[graft] def bloomDocs(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"), md5(col("text")).as("h"),
      (ph(col("text")) % P).as("x"))
  }

  /** M sizes against the distinct corpus KEY count (the values actually
    * inserted) — one planning aggregate, derived identically in the
    * oracle so positions agree bit-for-bit. */
  private[graft] def bloomMBits(d: DataFrame, isBatch: Column): Long = {
    val nKeys = d.filter(!isBatch).agg(countDistinct(col("x"))).head().getLong(0)
    math.max(BloomMinBits, BloomBitsPerKey * nKeys)
  }

  /** The K position hashes of key column `x` at filter width mBits. */
  private[graft] def bloomPosArray(mBits: Long): Column =
    array((0 until BloomK).map { j =>
      val s = BloomSeedOffset + j
      (lit(seedA(s)) * col("x") + lit(seedB(s))) % P % mBits
    }: _*)

  /** The probe/classify/report tail shared by d37 and st45: batch docs'
    * positions meet the filter relation; all-hit ∧ exact-twin →
    * true_positive, all-hit alone → false_positive (the measured FP
    * rate), miss → definitive new (false_negative is impossible by the
    * filter's contract — spec-pinned). */
  private[graft] def bloomReport(d: DataFrame, isBatch: Column,
      batchPos: DataFrame, bloom: DataFrame): DataFrame = {
    val corpusH = d.filter(!isBatch).select(col("h")).distinct()
      .withColumn("in_corpus", lit(true))
    val probe = batchPos.select("doc_id", "pos").distinct()
      .join(broadcast(bloom.select("pos").withColumn("in_bloom", lit(true))),
        Seq("pos"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("in_bloom"), 1L).otherwise(0L)).as("n_hit"))
    d.filter(isBatch)
      .join(probe, Seq("doc_id"))
      .join(corpusH, Seq("h"), "left")
      .select(
        when(col("n_hit") === col("n_pos") && col("in_corpus"), "true_positive")
          .when(col("n_hit") === col("n_pos"), "false_positive")
          .when(col("in_corpus"), "false_negative")
          .otherwise("true_negative").as("outcome"))
      .groupBy("outcome").agg(count(lit(1)).as("n_docs"))
      .withColumn("share_pm",
        expr("CAST(n_docs * 10000 DIV (SUM(n_docs) OVER ()) AS BIGINT)"))
      .orderBy("outcome")
  }

  /** Core over any (doc_id, text) frame — extracted so the spec can
    * drive constructed corpora (with real cross-partition duplicates,
    * which the synthetic corpus lacks) through the production plan and
    * see the true_positive / false_positive arms fire. */
  private[graft] def d37BloomCore(documents: DataFrame): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    val d = bloomDocs(documents)
    val mBits = bloomMBits(d, isBatch)
    // the batch/corpus split rides the position rows as a flag — no
    // semi-join back against the doc set (two join stages saved; the
    // flag is one boolean per row through the explode)
    val pos = d.select(col("doc_id"), isBatch.as("is_batch"),
      explode(bloomPosArray(mBits)).as("pos"))
    val bloom = pos.filter(!col("is_batch")).select("pos").distinct()
    bloomReport(d, isBatch, pos.filter(col("is_batch")), bloom)
  }

  /** d25 is all-pairs WITHIN a label block — the documented small-side
    * baseline (s27/s28 are the unbounded scale path). This cap makes the
    * quadratic envelope explicit: a block of b rows joins C(b,2) pairs,
    * so 10k rows ≈ 50M pairs per block is the most a "baseline" should
    * ever do. Enforced by an explicit driver-side max-block-size check
    * before the join is built — the prior in-plan assert_true depended
    * on Catalyst not folding IsNull(assert_true(...)) away, which is
    * fragile across Spark upgrades (ADVICE r4). The check is one cheap
    * count-aggregate job over the (small, label-keyed) embeddings table.
    */
  val EmbedBlockCap = 10000

  /** d25: embedding-cosine near-dup pairs, blocked by label.
    * Elementwise fold (zip_with + aggregate) in doc order on both engines
    * keeps double accumulation order identical; cosine rounded to 6dp.
    * Scale path for unblocked corpora is s27's hyperplane LSH.
    */
  def d25EmbedNeardup(spark: SparkSession, dir: String,
      maxBlock: Int = EmbedBlockCap): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val maxBlockSize = Tables.embeddings(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    require(maxBlockSize <= maxBlock,
      s"d25 label block exceeds $maxBlock rows (quadratic baseline, " +
        s"largest block = $maxBlockSize) — use s27 LSH / s28 IVF for unbounded corpora")
    // norm kernel fuses onto the scan; rebalance so a single-row-group
    // file doesn't serialize it (no-op on a real lake layout)
    val e = Tables.rebalanceSmallScan(Tables.embeddings(spark, dir))
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
      .select(col("vec_id"), col("label"), col("embedding").as("v"), col("norm"))
    val a = e.as("a"); val b = e.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.v, b.v)"))
      .withColumn("cos_sim", round(col("dot") / (col("a.norm") * col("b.norm")), 6))
      .filter(col("cos_sim") >= 0.4)
      .select(col("a.label").as("label"), col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** d28 cosine threshold — same bar as d25 so the two operators are
    * directly comparable: d25 finds pairs within LABEL blocks, d28
    * within IVF cells with no label needed. */
  val CellDedupThreshold = 0.4

  /** d28: corpus-wide embedding near-dup detection blocked by IVF cells —
    * the unbounded-corpus scale path d25's label-blocked baseline defers
    * to. Every vector indexes on its home Voronoi cell (element 0 of the
    * codegen'd [[graft.functions.IvfCells]] assignment) and probes its
    * top-2 cells, so a boundary pair is found when EITHER side's probe
    * list reaches the other's home cell; candidate generation is a cell
    * equi-join, never corpus². Pairs are canonicalized (least, greatest)
    * and deduped because the two probe routes can discover the same pair
    * twice.
    *
    * 100 TB posture: candidates ≈ Σ_cell |cell|², so nlist MUST scale
    * with the corpus — a fixed grid melts down (16 cells at a 10×
    * corpus measured 46 s vs 6 s single-node: 300M candidate pairs AND
    * only 16 join keys' worth of parallelism). nlist = max(16, ⌈√N⌉)
    * balances the O(N·nlist) assignment against the O(N²/nlist)
    * within-cell join and keys the shuffle ~√N-wide; the count() that
    * sizes it is one cheap planning job (d25-guard pattern), and the
    * oracle derives the identical count in SQL. Deterministic
    * pseudo-centroids stand in for k-means (same honest caveat as s28).
    * Recall vs the exact d25 semantics is the standard IVF trade,
    * measured by s29's recall harness.
    */
  def d28EmbedCellDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val nVec = Tables.embeddings(spark, dir).count()
    val nCells = math.max(16L, math.ceil(math.sqrt(nVec.toDouble)).toLong)
    // The cell assignment is COMPUTE-bound (nlist·dims ops/row), so the
    // scan's split count must not cap parallelism — the shared gated
    // rebalance (this operator's r9 inline form, promoted to
    // Tables.rebalanceSmallScan in r13).
    val e = Tables.rebalanceSmallScan(Tables.embeddings(spark, dir))
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
      .withColumn("cells", expr(s"graft_ivf_cells_n(embedding, ${nCells}L)"))
    val home = e.withColumn("cell", col("cells").getItem(0))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
    val probe = e.withColumn("cell", explode(col("cells")))
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
    probe.as("a").join(home.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos_sim",
        round(expr("graft_dot(a.embedding, b.embedding)") /
          (col("a.norm") * col("b.norm")), 6))
      .filter(col("cos_sim") >= CellDedupThreshold)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"), col("cos_sim"))
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** d29 span width in tokens. Lee et al. use 50-token substrings on
    * real web text; 8 keeps spans shorter than the synthetic corpus's
    * documents while still far above chance collision. */
  val SpanTokens = 8

  /** d29: exact repeated-span detection — the ExactSubstr dedup pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): find fixed-width token passages that
    * occur more than once in the corpus (licenses, boilerplate headers,
    * templated paragraphs — the text doc-level dedup never catches
    * because the surrounding documents differ). Every [[SpanTokens]]-gram
    * window (stride 1, positions preserved — a passage repeated WITHIN a
    * document counts) is hashed by the codegen'd `graft_window_hashes`,
    * then aggregated twice: (hash, doc) grain with map-side combine,
    * then hash grain → occurrence count, distinct-doc count, earliest
    * holder. Output is the repeated-span index a removal pass would
    * join against.
    *
    * 100 TB posture: posting volume = token count and every posting is a
    * fixed-width int64 from the expression itself (d24's lesson baked in
    * from the start — no span string ever reaches the plan); both
    * aggregations partial-combine map-side; there is no pairwise join
    * anywhere — the suffix-array formulation's cross-doc comparison
    * collapses into a group-by on the span hash.
    */
  /** The (span, doc) posting grain d29 and d30 both aggregate:
    * `(h, doc_id, occ)` — window hash, holder, occurrences within that
    * doc. ONE definition so the detector (d29) and the scorer (d30) can
    * never drift apart on the window family. */
  private def spanPostings(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spanPostingsCore(Tables.documents(spark, dir))
  }

  /** Posting grain over any (doc_id, text) frame — extracted so the
    * skew-split demonstration (PlanSpec) can drive a synthetic hot-span
    * corpus through the exact production plan. Caller must have
    * registered [[graft.functions.GraftFunctions]] on the session. */
  private[graft] def spanPostingsCore(documents: DataFrame): DataFrame =
    // window-hash kernel fuses onto the scan — rebalance (gated; no-op
    // for tests' parallelize frames and real lake layouts)
    Tables.rebalanceSmallScan(documents)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= SpanTokens)
      .select(col("doc_id"),
        explode(expr(s"graft_window_hashes(words, $SpanTokens)")).as("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("occ"))

  def d29RepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    spanPostings(spark, dir)
      .groupBy("h")
      .agg(sum(col("occ")).as("n_occ"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") >= 2L)
      .select(col("h").as("span_hash"), col("n_occ"), col("n_docs"), col("first_doc"))
      .orderBy("span_hash")
  }

  /** d30 flag threshold (permyriad): a fifth of a doc's windows being
    * cross-document repeats is far above this corpus's organic floor
    * (non-duplicate docs measure 0) while catching partial inclusions,
    * not just the exact/near dups that score 10000. */
  val SpanShareFlagPm = 2000L

  /** d30: per-document repeated-span share — the SCORING side of d29's
    * detection (Lee et al. apply ExactSubstr by cutting the repeated
    * passages; at corpus scale the first decision is per-document: how
    * much of this doc is boilerplate that other docs also carry?). Each
    * doc's [[SpanTokens]]-windows are probed against the cross-document
    * span index (d29's spans restricted to n_docs ≥ 2, so a document
    * repeating ITSELF is not penalized here — t34 owns within-doc
    * repetition) and scored by the permyriad share of its window
    * occurrences that are cross-doc repeats.
    *
    * 100 TB posture: the (span, doc) grain feeds BOTH the index build
    * and the probe through one reused exchange (the same optimizer
    * contract as t35 — the index aggregate consumes `occ` in a form
    * pruning cannot remove, keeping the subtrees canonically identical;
    * PlanSpec pins the single scan). The probe is a hash equi-join on
    * (span hash, salt) against the repeated-only index: hot spans (a
    * license header shared by millions of docs) spread over
    * [[SpanProbeSalt]] tasks deterministically — the explicit q45
    * salting pattern, chosen because AQE's skew-join split cannot fire
    * on this shape (the index side aggregates above its shuffle, so the
    * join inputs are not both direct shuffle reads; PlanSpec drives a
    * 30%-hot-span corpus through the plan to pin the defense). The
    * index side carries no payload beyond the key, so its ×S explode is
    * free. Both aggregations partial-combine.
    */
  def d30SpanScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    d30SpanScoreCore(Tables.documents(spark, dir))
  }

  /** Probe-join salt width. A hot span (license header shared by
    * millions of docs) funnels every posting of ONE hash into one
    * shuffle partition at the probe join. AQE's skew-join splitting
    * CANNOT rescue this shape — OptimizeSkewedJoin requires both join
    * inputs to be direct shuffle reads, and the index side aggregates
    * above its shuffle (verified empirically in round 7; the r6
    * scaladoc's AQE claim was wrong). The defense is therefore the
    * explicit q45 pattern: postings salt on pmod(doc_id, S), the
    * key-only index explodes ×S (cross-doc spans only — tiny by
    * definition), and the hot hash spreads over S tasks
    * deterministically. */
  val SpanProbeSalt = 8

  /** Rule core over any (doc_id, text) frame (same extraction contract
    * as [[Pipeline.p60VocabCore]]). */
  private[graft] def d30SpanScoreCore(documents: DataFrame,
      saltWidth: Int = SpanProbeSalt): DataFrame = {
    // saltWidth is overridable ONLY for the skew demonstration harness
    // (graft.SkewDemo measures salted vs unsalted on a hot corpus);
    // every production caller uses the default
    val per = spanPostingsCore(documents)
    // sum(occ>=1 ? 1 : 0) IS the distinct-doc count per span, phrased so
    // occ stays needed in this branch (the t35 ReuseExchange contract)
    val crossDoc = per.groupBy("h")
      .agg(sum(when(col("occ") >= 1L, 1L).otherwise(0L)).as("nd"))
      .filter(col("nd") >= 2L)
      .select(col("h"), explode(expr(s"sequence(0, ${saltWidth - 1})")).as("salt"),
        lit(1L).as("hit"))
    per.withColumn("salt", pmod(col("doc_id"), lit(saltWidth.toLong)).cast("int"))
      .join(crossDoc, Seq("h", "salt"), "left")
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_windows"),
        sum(when(col("hit").isNotNull, col("occ")).otherwise(0L)).as("n_rep"))
      .select(col("doc_id"), col("n_windows"), col("n_rep"),
        expr("n_rep * 10000 DIV n_windows").as("rep_share_pm"))
      .withColumn("span_flagged",
        (col("rep_share_pm") >= SpanShareFlagPm).cast("int"))
      .orderBy("doc_id")
  }

  /** d32 chunk width (non-overlapping tiles, unlike p61's strided
    * windows) and the cross-document frequency at which a chunk is
    * adjudicated boilerplate and cut. */
  val CutChunkTokens = 8L
  val CutDocFreq = 2L

  /** d32: repeated-span CUTTING — the APPLY step that completes the
    * ExactSubstr family (d29 detects cross-doc spans, d30 scores docs
    * by them; Lee et al. arXiv:2107.06499 then CUT the repeated
    * passages from the corpus — this operator). Each doc tiles into
    * non-overlapping [[CutChunkTokens]]-word chunks; a chunk held by ≥
    * [[CutDocFreq]] distinct docs is boilerplate and is dropped; the
    * doc is rebuilt from its surviving chunks in order. Output is the
    * per-doc rewrite manifest: chunk/cut counts, kept-token count, and
    * an md5 witness of the rebuilt text (the oracle verifies the
    * RECONSTRUCTION, not just the counts).
    *
    * 100 TB posture: tiling is a bounded explode (p61's shape); the
    * chunk-frequency index aggregates map-side; the probe join salts on
    * pmod(doc_id, [[SpanProbeSalt]]) exactly like d30 (a license chunk
    * shared by millions of docs spreads over S tasks — AQE's skew split
    * cannot fire on this shape, see d30). The rebuild groupBy(doc)
    * re-flows chunk text through one exchange — inherent to a corpus
    * REWRITE (same cost class as p59's shard write), and the output
    * shrinks by the cut fraction.
    */
  def d32SpanCut(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val K = CutChunkTokens
    val chunks = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("words"))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("chunk_idx", explode(expr(s"sequence(0L, (n_tokens - 1) DIV $K)")))
      .withColumn("tok_len", least(lit(K), col("n_tokens") - col("chunk_idx") * K))
      .withColumn("chunk_text", expr(
        s"concat_ws(' ', slice(words, cast(chunk_idx * $K + 1 as int), cast(tok_len as int)))"))
      .select(col("doc_id"), col("chunk_idx"), col("tok_len"), col("chunk_text"),
        ph(col("chunk_text")).as("h"))
    val hot = chunks.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= CutDocFreq)
      .select(col("h"), explode(expr(s"sequence(0, ${SpanProbeSalt - 1})")).as("salt"),
        lit(1).as("cut"))
    chunks
      .withColumn("salt", pmod(col("doc_id"), lit(SpanProbeSalt.toLong)).cast("int"))
      .join(hot, Seq("h", "salt"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cut").isNotNull, 1L).otherwise(0L)).as("n_cut"),
        sum(when(col("cut").isNull, col("tok_len")).otherwise(0L)).as("n_tokens_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("cut").isNull, struct(col("chunk_idx"), col("chunk_text"))))),
          x => x.getField("chunk_text")))).as("retained_hash"))
      .orderBy("doc_id")
  }

  /** d33 winnowing window: one fingerprint guaranteed per run of this
    * many consecutive span hashes (the guarantee threshold t = w + W - 1
    * tokens in the paper's terms). */
  val WinnowWindow = 4

  /** Bits reserved for the position in the packed selection key — caps a
    * document at 2^20 tokens. The synthetic corpus tops out orders of
    * magnitude below; a production deployment with longer docs widens
    * this and the mask below (60 usable non-negative hash bits leave
    * room for 24/36 splits too). */
  val WinnowPosBits = 20
  val WinnowHashMask = (1L << 40) - 1L

  /** d33: winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each window of
    * [[WinnowWindow]] consecutive [[SpanTokens]]-gram hashes keep the
    * minimum (rightmost on ties), then de-duplicate the selections. The
    * standard upgrade over t31's single rolling hash: a document's
    * fingerprint set is position-robust (any shared passage of
    * `SpanTokens + WinnowWindow - 1` tokens is GUARANTEED to contribute
    * at least one common fingerprint) while storing only ~2/(W+1) of the
    * d29 posting volume — the index a plagiarism/overlap checker keeps.
    *
    * The tie rule is made total instead of probabilistic: hash and
    * position pack into one int64 key (40 hash bits · 20 position bits,
    * position complemented so MIN prefers the rightmost), so the per-
    * window argmin is a plain `min() OVER (ROWS CURRENT..W-1 FOLLOWING)`
    * — the same frame in Spark and DuckDB, no nondeterministic arg_min.
    *
    * 100 TB posture: zero joins — one posexplode (posting volume = token
    * count, int64s from the codegen'd expression), ONE exchange on
    * doc_id for the window, and both downstream aggregations (distinct
    * fingerprints, per-doc rollup) reuse that partitioning (doc_id ⊆
    * every grouping key ⇒ ClusteredDistribution already satisfied, no
    * further shuffle). Window state is W rows. Per-doc output row.
    */
  def d33Winnow(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    d33WinnowCore(Tables.documents(spark, dir))
  }

  /** Winnowing over any (doc_id, text) frame — extracted so the property
    * test can drive random corpora through the exact production plan.
    * Caller must have registered [[graft.functions.GraftFunctions]]. */
  private[graft] def d33WinnowCore(documents: DataFrame): DataFrame = {
    val W = WinnowWindow
    val hp = Tables.rebalanceSmallScan(documents)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= SpanTokens)
      .select(col("doc_id"),
        (size(col("words")) - lit(SpanTokens - 1)).cast("long").as("n_h"),
        posexplode(expr(s"graft_window_hashes(words, $SpanTokens)")).as(Seq("pos", "h")))
    val key = col("h").bitwiseAND(lit(WinnowHashMask)) * lit(1L << WinnowPosBits) +
      (lit((1L << WinnowPosBits) - 1L) - col("pos"))
    val fpw = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, W - 1)
    hp.withColumn("fp_key", min(key).over(fpw))
      .filter(col("pos") <= greatest(lit(0L), col("n_h") - lit(W.toLong)))
      .select("doc_id", "n_h", "fp_key").distinct()
      .groupBy("doc_id", "n_h")
      .agg(count(lit(1)).as("n_fps"),
        min(shiftright(col("fp_key"), WinnowPosBits)).as("min_fp"),
        max(shiftright(col("fp_key"), WinnowPosBits)).as("max_fp"))
      .select(col("doc_id"), col("n_h").as("n_hashes"), col("n_fps"),
        expr("n_fps * 10000 div n_h").as("fp_density_pm"),
        col("min_fp"), col("max_fp"))
      .orderBy("doc_id")
  }

  /** d34: SEMANTIC deduplication — SemDeDup (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540). Paraphrased duplicates share no
    * n-grams, so the token-level family (d21/d22/d23/d24/d29) cannot see
    * them; they DO sit within ε of each other in embedding space. The
    * published pipeline: k-means-cluster the embedding corpus, compare
    * pairs only WITHIN a cluster, group transitive semantic duplicates,
    * and from each group keep the member FARTHEST from its cluster
    * centroid (the paper's keeper rule — interior points are the
    * redundant ones; the extreme exemplar preserves the most signal).
    *
    * Composition contract (one definition each, the d31 discipline): the
    * clusters ARE s30's k-means model ([[Similarity.kmeansAssign]] — the
    * centroid distance reused for the election is the assignment's own
    * `dist`), the pair bar is d25/d28's [[CellDedupThreshold]] cosine,
    * grouping is d26's [[connectedComponents]], and the election is the
    * deterministic two-step max-dist-then-min-id (never an arg_max tie).
    * Output: one row per semantic-duplicate group (≥ 2 members).
    *
    * 100 TB posture: pair volume is Σ_c |cluster_c|² — governed by K
    * exactly as d28's nlist governs cells; the paper runs 25k clusters on
    * LAION and production scales K ~ √N, while this instance pins K = 16
    * to stay on s30's oracle-shared model (the trade is documented, the
    * mechanism identical). Candidate generation is a cid equi-join (never
    * corpus²), components run on the tiny above-threshold pair graph, and
    * the election aggregates the member grain with map-side combine.
    */
  /** d34's candidate-pair stage, exposed so PlanSpec can pin the cid
    * equi-join directly: [[connectedComponents]]' localCheckpoint
    * truncates lineage, so the final d34 plan cannot show this join. */
  private[graft] def d34Pairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val asg = Similarity.kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cid"), col("dist"))
    // raw-float cosine on the d25/d28 pattern (codegen'd graft_dot +
    // round 6dp — the established cross-engine-stable arithmetic); the
    // quantized grid is only the CLUSTERING space
    val e = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(expr("graft_dot(embedding, embedding)")))
      .select(col("vec_id"), col("embedding").as("vv"), col("norm"))
    val m = e.join(asg, Seq("vec_id"))
    m.as("a").join(m.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        round(expr("graft_dot(a.vv, b.vv)") / (col("a.norm") * col("b.norm")), 6))
      .filter(col("cos_sim") >= CellDedupThreshold)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
  }

  def d34Semdedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val asg = Similarity.kmeansAssign(spark, dir)
      .select(col("vec_id"), col("cid"), col("dist"))
    val pairs = d34Pairs(spark, dir)
    val members = connectedComponents(pairs)
      .withColumnRenamed("cluster_id", "group_id")
      .join(asg, col("node") === col("vec_id"))
    // min(cid) is constant per group (edges never cross clusters) — an
    // aggregate, not a join key, so the group grain stays (group_id)
    val far = members.groupBy("group_id")
      .agg(count(lit(1)).as("n_members"), max(col("dist")).as("far_dist"),
        min(col("cid")).as("cid"))
    members.select(col("group_id"), col("node"), col("dist"))
      .join(far, Seq("group_id"))
      .filter(col("dist") === col("far_dist"))
      .groupBy("group_id", "cid", "n_members", "far_dist")
      .agg(min(col("node")).as("survivor_id"))
      .select(col("group_id"), col("cid"), col("n_members"),
        col("survivor_id"), col("far_dist"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("group_id")
  }
}
