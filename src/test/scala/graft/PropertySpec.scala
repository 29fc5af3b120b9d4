package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks on randomly generated data — the fixed-seed
  * testdata can't exercise edge shapes (empty users, exact-boundary
  * gaps, single-event sessions), so these compare the distributed
  * implementations against straightforward in-memory references.
  */
class PropertySpec extends AnyFunSuite {
  /** Deterministic sampling loop (scalatestplus bridge isn't in the
    * offline dep set — drive ScalaCheck generators directly). */
  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val GapUs = 1800L * 1000000L

  /** In-memory reference sessionizer: same rule as q07/st34. */
  private def refSessions(events: Seq[(Long, Long)]): Map[(Long, Long), Int] = {
    events.groupBy(_._1).flatMap { case (uid, evs) =>
      val sorted = evs.map(_._2).sorted
      var session = 0L
      var prev = Long.MinValue
      val counts = scala.collection.mutable.Map.empty[(Long, Long), Int]
      sorted.foreach { us =>
        if (prev == Long.MinValue || us - prev > GapUs) session += 1
        prev = us
        counts((uid, session)) = counts.getOrElse((uid, session), 0) + 1
      }
      counts
    }
  }

  private val eventsGen: Gen[List[(Long, Long)]] = Gen.listOf(for {
    uid <- Gen.choose(0L, 5L)
    // cluster timestamps so gaps straddle the 30-min boundary frequently
    us <- Gen.choose(0L, 20L).map(_ * (GapUs / 2))
  } yield (uid, us))

  test("sessionization matches in-memory reference on random event sets") {
    samples(eventsGen, 25).filter(_.nonEmpty).foreach { events =>
      locally {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val schema = StructType(Seq(
          StructField("user_id", LongType), StructField("us", LongType)))
        // distinct (uid,us) pairs: the reference and the window tie-break
        // agree trivially then; duplicates only reorder equal rows
        val rows = events.distinct.map { case (u, t) => Row(u, t) }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), schema)
        val w = Window.partitionBy("user_id").orderBy("us")
        val got = df
          .withColumn("prev", lag(col("us"), 1).over(w))
          .withColumn("is_new",
            when(col("prev").isNull || col("us") - col("prev") > GapUs, 1L).otherwise(0L))
          .withColumn("session", sum(col("is_new")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session").count()
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2).toInt))
          .toMap
        assert(got === refSessions(events.distinct))
      }
    }
  }

  test("minhash signatures are order-insensitive and identity-stable") {
    import graft.functions.TextHash
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(8)))
    samples(tokGen, 40).foreach { toks =>
      val arr = new GenericArrayData(toks.distinct.map(UTF8String.fromString).toArray[Any])
      val shuffled = new GenericArrayData(
        scala.util.Random.shuffle(toks.distinct).map(UTF8String.fromString).toArray[Any])
      assert(TextHash.minhashSig(arr).toSeq === TextHash.minhashSig(shuffled).toSeq)
      assert(TextHash.simhash48(arr) === TextHash.simhash48(shuffled))
    }
  }

  test("GraftExtensions injects every graft function at session build time") {
    // the spark-submit path: --conf spark.sql.extensions=graft.GraftExtensions
    // must make every function SparkEntry's operators call resolvable
    // without a GraftFunctions.register call. registerFunctions is the
    // hook the session constructor itself drives, so asserting on the
    // registry it produces exercises the real injection path.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // registerFunctions is private[sql] (it is the session constructor's
    // own hook) — reach it reflectively to drive the real injection path
    val m = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getDeclaredMethods.find(_.getName == "registerFunctions").get
    m.setAccessible(true)
    val reg = m.invoke(ext,
        org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
      .asInstanceOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry]
    val missing = graft.functions.GraftFunctions.builders.map(_._1).filterNot(
      n => reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: $missing")
    assert(graft.functions.GraftFunctions.builders.size >= 29,
      "builder list shrank — a function was dropped from both paths")
  }

  test("graft_collect_capped: boundary, overflow, nulls, distributed merges") {
    // the hot-key cap aggregate (r15): exactly-cap groups keep their
    // sorted ids, cap+1 groups evaluate to NULL, null ids are skipped,
    // and the contract survives partial aggregation + merge across many
    // partitions (the path where a buffer that already overflowed merges
    // into one that hasn't)
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val cap = 5
    // group 1: exactly cap ids; group 2: cap+1; group 3: one id;
    // group 4: cap ids + nulls (nulls must not count toward the cap)
    val rows =
      (1L to cap.toLong).map(i => Row(1L, java.lang.Long.valueOf(100 + i))) ++
      (1L to (cap + 1).toLong).map(i => Row(2L, java.lang.Long.valueOf(200 + i))) ++
      Seq(Row(3L, java.lang.Long.valueOf(301L))) ++
      ((1L to cap.toLong).map(i => Row(4L, java.lang.Long.valueOf(400 + i))) :+
        Row(4L, null))
    val schema = StructType(Seq(
      StructField("g", LongType), StructField("id", LongType)))
    // many small partitions force partial buffers + merge on every group
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 7), schema)
    val got = df.groupBy("g")
      .agg(expr(s"graft_collect_capped(id, $cap)").as("docs"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    assert(got(1L) === Some((1L to cap.toLong).map(_ + 100)), "exactly-cap group")
    assert(got(2L) === None, "over-cap group must be NULL")
    assert(got(3L) === Some(Seq(301L)), "singleton group")
    assert(got(4L) === Some((1L to cap.toLong).map(_ + 400)),
      "nulls must not count toward the cap")
  }

  test("graft_last_by2: ties, null keys, null/typed values, distributed merges") {
    // the argmax aggregate behind q08 (r17): lexicographic (k1, k2) max,
    // null ordering keys skipped, a null VALUE on the winning row
    // survives, all-null-key group evaluates to NULL, and the winner is
    // stable under partial aggregation + merge across many partitions
    // (the serde path) — plus the UTF8String-clone hazard: the buffer
    // must not alias the scan's reused row memory
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val rows = Seq(
      // group 1: plain max on k1
      Row(1L, 10L, 1L, "a"), Row(1L, 30L, 1L, "win1"), Row(1L, 20L, 9L, "b"),
      // group 2: k1 tie broken by k2
      Row(2L, 5L, 7L, "win2"), Row(2L, 5L, 3L, "x"), Row(2L, 4L, 99L, "y"),
      // group 3: winner carries a NULL value
      Row(3L, 2L, 1L, "z"), Row(3L, 9L, 1L, null),
      // group 4: null keys skipped; only one qualifying row
      Row(4L, null, 1L, "n1"), Row(4L, 1L, null, "n2"), Row(4L, 0L, 0L, "win4"),
      // group 5: ALL keys null -> NULL struct
      Row(5L, null, null, "dead"))
    val schema = StructType(Seq(
      StructField("g", LongType), StructField("k1", LongType),
      StructField("k2", LongType), StructField("v", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 7), schema)
    val got = df.groupBy("g")
      .agg(expr("graft_last_by2(k1, k2, v)").as("w"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))
        .map(s => (s.getLong(0), s.getLong(1), s.getString(2)))).toMap
    assert(got(1L) === Some((30L, 1L, "win1")))
    assert(got(2L) === Some((5L, 7L, "win2")), "k1 tie must break on k2")
    assert(got(3L) === Some((9L, 1L, null)), "null value on the winner survives")
    assert(got(4L) === Some((0L, 0L, "win4")), "null-key rows are skipped")
    assert(got(5L) === None, "all-null-key group is NULL")
    // typed-value arms: the same ordering with DOUBLE and BIGINT values
    val ev = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, 1L, 1L, 1.5, 100L), Row(1L, 2L, 1L, 2.5, 200L)), 2),
      StructType(Seq(
        StructField("g", LongType), StructField("k1", LongType),
        StructField("k2", LongType), StructField("d", DoubleType),
        StructField("l", LongType))))
    val r2 = ev.groupBy("g")
      .agg(expr("graft_last_by2(k1, k2, d)").as("wd"),
        expr("graft_last_by2(k1, k2, l)").as("wl")).collect().head
    assert(r2.getStruct(1).getDouble(2) === 2.5)
    assert(r2.getStruct(2).getLong(2) === 200L)
  }

  test("simhashPairs equals brute force at the hamming boundary (total recall)") {
    // The recall guarantee the combination keys must uphold (VERDICT r1 #1,
    // r2 #3): a pair at EXACTLY maxHamming=3 whose differing bits land in 3
    // DIFFERENT 8-bit blocks — the adversarial case, since only the one
    // block-triple avoiding all three dirty blocks can bucket them together.
    // Any future shrink of the guarantee (fewer combos, wider threshold)
    // turns this red.
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(24)(rnd.nextLong() & 0xFFFFFFFFFFFFL)
    val planted = bases.zipWithIndex.map { case (s, i) =>
      // dirty blocks rotate through all C(6,3) combinations across cases
      val combo = Dedup.SimCombos(i % Dedup.SimCombos.size)
      val bits = combo.zipWithIndex.map { case (blk, j) => 8 * blk + (i + 3 * j) % 8 }
      s ^ bits.foldLeft(0L)((m, b) => m | (1L << b))
    }
    val sims = (bases ++ planted).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val got = Dedup.simhashPairs(sims.toDF("doc_id", "simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = (for {
      (sa, ida) <- sims.map(_.swap); (sb, idb) <- sims.map(_.swap)
      if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= Dedup.SimMaxHamming
    } yield (ida, idb, h)).toSet
    assert(ref.size >= bases.size, "planted boundary pairs missing from reference")
    assert(got === ref)
  }

  test("simhashPairs drops over-SimClassCap signature classes; small classes pair") {
    // the boilerplate guard (r15): cap+10 docs sharing ONE signature
    // would emit C(cap+10, 2) hamming-0 pairs and multiply every
    // cross-class pair — they must vanish from the listing entirely,
    // while a 3-doc class still pairs (both arms: intra at hamming 0,
    // cross at hamming 1)
    import spark.implicits._
    import graft.operators.Dedup
    val n = Dedup.SimClassCap.toInt + 10
    val bigSig = 0x0F0F0F0F0F0FL
    val smallSig = 0x123456789ABCL
    val nearSig = smallSig ^ 1L // hamming 1 from smallSig
    val sims = (0 until n).map(i => (i.toLong, bigSig)) ++
      Seq((1000L, smallSig), (1001L, smallSig), (1002L, smallSig),
        (1003L, nearSig))
    val got = Dedup.simhashPairs(sims.toDF("doc_id", "simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(!got.exists { case (a, b, _) => a < 1000 || b < 1000 },
      s"over-cap class leaked pairs: $got")
    val expect = Set((1000L, 1001L, 0), (1000L, 1002L, 0), (1001L, 1002L, 0),
      (1000L, 1003L, 1), (1001L, 1003L, 1), (1002L, 1003L, 1))
    assert(got === expect)
  }

  test("st34 interval merge is order-independent and matches sorted-scan sessions") {
    // The st34 state fold must produce the SAME session partition for any
    // arrival order (streaming shuffles give no order guarantee within a
    // micro-batch). Feed random event multisets in random permutations
    // and compare (start, end, count) triples against the sorted-scan
    // sessionizer, clustering timestamps around the gap boundary.
    import scala.collection.mutable.ArrayBuffer
    import graft.streaming.Streams
    val rnd = new scala.util.Random(23)
    (1 to 50).foreach { trial =>
      val n = 1 + rnd.nextInt(40)
      val events = Seq.fill(n)(rnd.nextInt(30).toLong * (GapUs / 2) +
        rnd.nextInt(3).toLong)
      // sorted-scan reference
      val sorted = events.sorted
      val ref = ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { us =>
        if (ref.nonEmpty && us - ref.last._2 <= GapUs) {
          val (s, e, c) = ref.remove(ref.length - 1); ref += ((s, math.max(e, us), c + 1))
        } else ref += ((us, us, 1L))
      }
      val iv = ArrayBuffer.empty[Streams.SessionState]
      rnd.shuffle(events).foreach(us => Streams.mergeInterval(iv, us, us, 1))
      assert(iv.map(s => (s.start, s.end, s.n)).toSeq === ref.toSeq,
        s"trial $trial: merge ${iv.toSeq} vs ref ${ref.toSeq}")
    }
  }

  test("chain resolution matches in-memory root-following on random forests") {
    // Random parent forests (parent < id keeps them acyclic, like the
    // reference's remand chains which always link to an EARLIER case),
    // with dangling links (parent ids absent from the table) and nulls.
    // Verifies root labels AND depths from the one-hop fixpoint loop,
    // including depths that are not multiples of the hops per round.
    import spark.implicits._
    import graft.operators.Chains
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 120 + trial * 37
      val links = (0L until n.toLong).map { id =>
        val r = rnd.nextInt(10)
        val parent: java.lang.Long =
          if (r < 2 || id == 0) null                       // explicit root
          else if (r < 3) java.lang.Long.valueOf(id + 1000000L) // dangling
          else java.lang.Long.valueOf(rnd.nextInt(id.toInt).toLong) // earlier id
        (id, parent)
      }
      val lookup = links.toMap
      def ref(id: Long): (Long, Long) = { // (root, depth)
        var cur = id; var d = 0L
        while (lookup(cur) != null && lookup.contains(lookup(cur).longValue)) {
          cur = lookup(cur).longValue; d += 1
        }
        (cur, d)
      }
      val df = links.map { case (id, p) =>
        (id, Option(p).map(_.longValue)) }.toDF("id", "parent")
      val want = (0L until n.toLong).map(id => id -> ref(id)).toMap
      val got = Chains.resolveChains(df, maxIters = 40)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === want, s"trial $trial mismatch")
    }
  }

  test("chain resolution over a link cycle fails with the named convergence error") {
    // 1 -> 2 -> 3 -> 1 never reaches a root; 4 -> 5 (root) resolves, so
    // the loop keeps running on the cycle alone until the round budget
    import spark.implicits._
    val links = Seq((1L, Option(2L)), (2L, Some(3L)), (3L, Some(1L)),
      (4L, Some(5L)), (5L, None)).toDF("id", "parent")
    val e = intercept[IllegalArgumentException](
      graft.operators.Chains.resolveChains(links, maxIters = 3))
    assert(e.getMessage.contains("chain resolution did not converge in 3 rounds"))
  }

  test("connected components of an empty edge list is empty, without blocking") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    // the round count arrives through an Observation: if an empty round
    // never delivered it, the build would wait forever — bound the wait
    val rows = Await.result(Future(
      graft.operators.Dedup.connectedComponents(edges).collect()), 2.minutes)
    assert(rows.isEmpty)
  }

  test("graft.checkpoint.dir conf flips iterative checkpoints to reliable mode") {
    import spark.implicits._
    val df = (1L to 10L).toDF("id")
    // default: localCheckpoint — nothing written anywhere
    assert(Checkpoints.of(df).count() === 10L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    try {
      spark.conf.set(Checkpoints.DirConf, tmp.getAbsolutePath)
      val out = Checkpoints.of(df)
      assert(out.count() === 10L)
      // reliable checkpoint() writes RDD partition files under the dir
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: walk(c))
      assert(walk(tmp).exists(_.isFile),
        "reliable checkpoint wrote nothing under spark.graft.checkpoint.dir")
      // and the resolved chain result is unaffected by the mode
      val links = Seq((1L, Option.empty[Long]), (2L, Some(1L)), (3L, Some(2L)))
        .toDF("id", "parent")
      val roots = graft.operators.Chains.resolveChains(links)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(roots === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // connected components count convergence through an Observation on
      // each round's checkpoint: it must be delivered under checkpoint()
      // too (a path with a pendant, so more than one round runs)
      val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (3L, 6L))
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toDF("u", "v")
      val labels = graft.operators.Dedup.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === (1L to 6L).map(_ -> 1L).toMap)
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(tmp)
    }
  }

  test("q75 window-funnel fold matches brute-force exists on random layouts with ties") {
    // random per-user event layouts with a SMALL timestamp domain so
    // exact ties (same t, different types) actually occur — the fold's
    // (t, event_id) lex chain order must agree with the reference's
    // explicit exists-over-triples under ties
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.EventLog
    val T = EventLog.FunnelWindowUs
    val types = Vector("view", "click", "purchase", "signup")
    val rnd = new scala.util.Random(31)
    (1 to 3).foreach { trial =>
      val events = (0 until 40).flatMap { uid =>
        (0 until rnd.nextInt(12)).map { _ =>
          // timestamps cluster near T so the window constraint bites
          val t = rnd.nextInt(20).toLong * (T / 10)
          (uid.toLong, t, rnd.nextLong().abs % 1000000, types(rnd.nextInt(4)))
        }
      }.zipWithIndex.map { case ((u, t, _, ty), i) => (u, t, i.toLong, ty) }
      def ref(evs: Seq[(Long, Long, String)]): Long = {
        // evs = (t, event_id, type); chains lex-ordered, window vs start
        val s = evs.sortBy(e => (e._1, e._2))
        def lex(a: (Long, Long, String), b: (Long, Long, String)) =
          a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        val views = s.filter(_._3 == "view")
        val clicks = s.filter(_._3 == "click")
        val purchases = s.filter(_._3 == "purchase")
        val l3 = views.exists(a => clicks.exists(b => purchases.exists(c =>
          lex(a, b) && lex(b, c) && c._1 - a._1 <= T)))
        val l2 = views.exists(a => clicks.exists(b =>
          lex(a, b) && b._1 - a._1 <= T))
        if (l3) 3L else if (l2) 2L else if (views.nonEmpty) 1L else 0L
      }
      val df = events.toDF("user_id", "t", "event_id", "event_type")
        .filter(col("event_type").isin("view", "click", "purchase"))
      val got = EventLog.q75LevelsCore(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byUser = events.filter(e => e._4 != "signup")
        .groupBy(_._1).map { case (u, es) =>
          u -> ref(es.map(e => (e._2, e._3, e._4)))
        }
      byUser.foreach { case (u, want) =>
        assert(got.getOrElse(u, 0L) === want, s"trial $trial user $u")
      }
    }
  }

  test("connected components match in-memory union-find on random graphs") {
    // Random sparse graphs: long paths (worst case for plain min-label
    // propagation — exercises the pointer-jump acceleration), cliques,
    // isolated edges, multi-component mixes.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 4).foreach { trial =>
      val n = 60 + trial * 25
      // path backbone chunks + random chords ⇒ components with both long
      // diameters and shortcuts
      val edges = ((0L until n.toLong).sliding(2).collect {
        case Seq(a, b) if rnd.nextInt(4) != 0 => (a, b) // break ~1/4 of links
      }.toSeq ++ (1 to n / 4).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong; (a, b)
      }).filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(i => i -> i): _*)
      def find(x: Long): Long = { var c = x; while (parent(c) != c) c = parent(c); c }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val want = inGraph.map(v => v -> find(v)).toMap
      val got = graft.operators.Dedup.connectedComponents(
          edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial $trial mismatch")
    }
  }

  test("q53 Aalen-Johansen matches in-memory reference; S + ΣCIF = 1; monotone") {
    // Random left-truncated observation sets: enter < exit, three states.
    // Verifies risk-set counts against brute force, CIF/survival values
    // against a sequential in-memory estimator, the structural identity
    // S(t) + Σ_k CIF_k(t) = 1 (telescoping of S(s⁻)−S(s)), and
    // monotonicity of all curves.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val states = Vector("expedited", "normal", "censor")
    (1 to 3).foreach { trial =>
      val obs = (1 to 150 + trial * 31).map { _ =>
        val enter = if (rnd.nextInt(3) == 0) 0L else rnd.nextInt(20).toLong
        val exit = enter + 1 + rnd.nextInt(15)
        (enter, exit, states(rnd.nextInt(3)))
      }
      val got = graft.operators.Survival.aalenJohansen(
          obs.toDF("enter", "exit", "state"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      // in-memory reference over ascending exit times
      var surv = 1.0; var cifE = 0.0; var cifN = 0.0
      val want = obs.map(_._2).distinct.sorted.map { t =>
        val nRisk = obs.count(o => o._1 < t && o._2 >= t).toLong
        val dE = obs.count(o => o._2 == t && o._3 == "expedited").toLong
        val dN = obs.count(o => o._2 == t && o._3 == "normal").toLong
        val nC = obs.count(o => o._2 == t && o._3 == "censor").toLong
        if (dE + dN > 0) {
          val sPrev = surv
          surv = surv * (nRisk - dE - dN).toDouble / nRisk
          cifE += sPrev * dE.toDouble / nRisk
          cifN += sPrev * dN.toDouble / nRisk
        }
        (t, nRisk, dE, dN, nC, surv, cifE, cifN)
      }
      assert(got.length === want.length, s"trial $trial row count")
      got.zip(want).foreach { case (g, w) =>
        assert((g._1, g._2, g._3, g._4, g._5) === ((w._1, w._2, w._3, w._4, w._5)),
          s"trial $trial counts at t=${w._1}")
        assert(math.abs(g._6 - w._6) < 1e-6 && math.abs(g._7 - w._7) < 1e-6 &&
          math.abs(g._8 - w._8) < 1e-6, s"trial $trial values at t=${w._1}: $g vs $w")
        assert(math.abs(g._6 + g._7 + g._8 - 1.0) < 1e-5,
          s"trial $trial S+ΣCIF≠1 at t=${w._1}")
      }
      // monotone: surv nonincreasing, CIFs nondecreasing
      assert(got.map(_._6).sliding(2).forall {
        case Array(a, b) => b <= a + 1e-9; case _ => true })
      assert(got.map(_._7).sliding(2).forall {
        case Array(a, b) => b >= a - 1e-9; case _ => true })
      assert(got.map(_._8).sliding(2).forall {
        case Array(a, b) => b >= a - 1e-9; case _ => true })
    }
  }

  test("q54 disambiguation matches in-memory rule on random entity/set layouts") {
    // Random small entities with random year spreads and category sets —
    // exercises empty sets, single-candidate shortcuts, zero/one/many
    // intersecting candidates, including the all-ambiguous shape.
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    (1 to 3).foreach { trial =>
      val apps = (1 to 200 + trial * 41).map { i =>
        val cust = rnd.nextInt(25).toLong
        val yr = 2000 + rnd.nextInt(4)
        val nc = rnd.nextInt(4) // 0..3 categories from a tiny alphabet
        val cats = Seq.fill(nc)(s"c${rnd.nextInt(5)}").distinct
        (i.toLong, cust, yr, cats)
      }
      val got = graft.operators.Linking.disambiguate(
          apps.toDF("key", "cust", "yr", "cats"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
      val byCust = apps.groupBy(_._2)
      val want = apps.map { case (key, cust, yr, cats) =>
        val cands = byCust(cust).filter(_._3 == yr - 1)
        val hits = cands.filter(c => c._4.toSet.intersect(cats.toSet).nonEmpty)
        val res: (String, Option[Long]) =
          if (cands.isEmpty) ("error_missingpriordec", None)
          else if (cands.length == 1) ("match_priordec", Some(cands.head._1))
          else if (hits.length == 1) ("match_issues", Some(hits.head._1))
          else if (hits.length > 1) ("error_multipleissuecandidates", None)
          else ("error_noissuecandidate", None)
        key -> res
      }.toMap
      assert(got === want, s"trial $trial mismatch")
    }
  }

  test("graft_ivf_cells_n(v, 16) is exactly graft_ivf_cells(v) on real vectors") {
    // the parameterized corpus-sized variant must be a strict
    // generalization of the fixed query-index expression
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val mismatches = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("graft_ivf_cells(embedding)").as("fixed"),
        expr("graft_ivf_cells_n(embedding, 16)").as("param"))
      .filter(col("fixed") =!= col("param"))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_kmeans_argmin equals the interpreted lambda chain on real vectors") {
    // the codegen'd primitive loop replaced array_min(transform(...))
    // for speed — the two formulations must stay value-identical,
    // including the d·100+cid key encoding and tie-breaks
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val q = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x * lit(1000000.0d)).cast("long")).as("q"))
    val cents = q.orderBy("vec_id").limit(16)
      .select(row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")).as("cid"),
        col("q").as("cv"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cents"))
    val mismatches = q.crossJoin(broadcast(cents))
      .withColumn("native", expr("graft_kmeans_argmin(q, cents)"))
      .withColumn("lambda", array_min(transform(col("cents"), c =>
        aggregate(
          zip_with(col("q"), c.getField("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x) * lit(100L) + c.getField("cid"))))
      .filter(col("native") =!= col("lambda"))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_stop_scores equals the interpreted filter chains on real and random docs") {
    // the codegen'd single-pass kernel replaced five interpreted
    // size(filter(words, w -> w in (...))) chains — value parity with
    // the declarative formulation must hold for every profile
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val profiles = graft.functions.TextHash.StopProfiles
    val rnd = new scala.util.Random(7)
    val vocab = profiles.flatten ++ Array("alpha", "beta", "gamma", "", "THE", "den")
    val random = (1 to 300).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = real.union(random.toDF("doc_id", "text"))
      .withColumn("words", split(col("text"), " "))
      .withColumn("native", expr("graft_stop_scores(words)"))
    val mismatches = profiles.zipWithIndex.map { case (p, i) =>
      val inl = p.map(w => s"'$w'").mkString("(", ", ", ")")
      docs.filter(element_at(col("native"), i + 1) =!=
        expr(s"size(filter(words, w -> w in $inl))").cast("long")).count()
    }.sum
    assert(mismatches === 0L)
  }

  test("graft_ws_token_count / graft_distinct_tokens equal their split() identities") {
    // the r18 t30 kernels replace size(split(text,' ')) and
    // array_distinct(split(text,' ')) with byte-scan passes — the
    // identities must hold including interior/trailing empties,
    // empty string, and multibyte text (no 0x20 inside UTF-8 tails)
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(18)
    val alphabet = Seq("a", "bb", "ccc", "", " ", "  ", "é", "日本", "wörd")
    val random = (1 to 400).map { i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString(" "))
    } ++ Seq((9001L, ""), (9002L, " "), (9003L, "solo"), (9004L, "a a a"))
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = real.union(random.toDF("doc_id", "text"))
    val bad = docs.filter(
      expr("graft_ws_token_count(text)") =!= size(split(col("text"), " ")).cast("long") ||
      expr("graft_distinct_tokens(text)") =!= array_distinct(split(col("text"), " "))).count()
    assert(bad === 0L)
  }

  test("graft_chunk_fps matches an in-memory reference on random byte payloads") {
    graft.functions.GraftFunctions.register(spark)
    import java.security.MessageDigest
    val C = graft.functions.PortableHash.ChunkdupC
    def refFps(payload: Array[Byte]): Seq[Long] = {
      val nb = payload.length
      if (nb == 0) return Seq.empty
      val cb = (nb + C - 1) / C
      val md = MessageDigest.getInstance("MD5")
      (0 until C).filter(_ * cb < nb).map { i =>
        val hexStr = payload.slice(i * cb, math.min(nb, i * cb + cb))
          .map("%02X".format(_)).mkString
        md.reset()
        // ph = first 15 md5 hex chars as int64
        java.lang.Long.parseLong(
          md.digest(hexStr.getBytes("US-ASCII")).take(8)
            .map("%02x".format(_)).mkString.take(15), 16)
      }
    }
    val payloadGen: Gen[Array[Byte]] = for {
      n <- Gen.choose(0, 200)
      bs <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
    } yield bs.toArray
    val payloads = samples(payloadGen, 60)
    // boundary shapes the generator may miss
    val all = payloads ++ Seq(Array.emptyByteArray, Array[Byte](0),
      Array.fill[Byte](C - 1)(7), Array.fill[Byte](C)(7), Array.fill[Byte](C + 1)(7))
    import spark.implicits._
    val got = all.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "payload")
      .selectExpr("id", "graft_chunk_fps(payload) as fps")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    all.zipWithIndex.foreach { case (p, i) =>
      assert(got(i.toLong) === refFps(p), s"payload $i (${p.length} bytes)")
    }
  }

  /** Random tiny corpora: few-token alphabet so tf/df ties and shared
    * vocabulary occur constantly. */
  private val corpusGen: Gen[List[(Long, String)]] = Gen.listOf(for {
    id <- Gen.choose(0L, 19L)
    nw <- Gen.choose(1, 8)
    ws <- Gen.listOfN(nw, Gen.choose(0, 6).map(i => s"w$i"))
  } yield (id, ws.mkString(" "))).map(_.groupBy(_._1).map { case (id, ds) =>
    (id, ds.head._2)
  }.toList)

  test("t35 keywords match the in-memory tf/df ranking on random corpora") {
    import org.apache.spark.sql.functions._
    samples(corpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.TextAnalysis.t35KeywordsCore(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      // reference: tf per (doc, token), df per token, integer ppm, top-3
      val tf = docs.flatMap { case (id, t) => t.split(" ").map(w => (id, w)) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val dfm = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
      val want = tf.keys.groupBy(_._1).flatMap { case (id, ks) =>
        val ranked = ks.toSeq
          .map { case (_, w) => (w, tf((id, w)), dfm(w), tf((id, w)) * 1000000L / dfm(w)) }
          .sortBy { case (w, _, _, rel) => (-rel, w) }
          .take(operators.TextAnalysis.KeywordsPerDoc)
        ranked.zipWithIndex.map { case ((w, t, d, rel), i) =>
          (id, (i + 1).toLong) -> ((w, t, d, rel)) }
      }
      assert(got === want)
    }
  }

  // drift corpora carry a declared source and words drawn from the stop
  // profiles (so pred_lang varies) plus filler; doc_ids 0..39 make both
  // the %5 arrival split and zero-count buckets reachable
  private val driftCorpusGen: Gen[List[(Long, String, String)]] = Gen.listOf(for {
    id <- Gen.choose(0L, 39L)
    src <- Gen.oneOf("web", "book", "code")
    nw <- Gen.choose(1, 8)
    ws <- Gen.listOfN(nw, Gen.oneOf(
      "the", "a", "der", "und", "el", "que", "le", "est", "的", "在", "w1", "w2"))
  } yield (id, src, ws.mkString(" "))).map(_.groupBy(_._1).map { case (_, ds) =>
    ds.head
  }.toList)

  test("t39 drift matches the in-memory TVD reference on random shifted corpora") {
    val profiles = graft.functions.TextHash.StopProfiles
    def predLang(text: String): String = {
      val ws = text.split(" ")
      val s = profiles.map(p => ws.count(p.contains)).toSeq
      if (s(0) >= s(1) && s(0) >= s(2) && s(0) >= s(3) && s(0) >= s(4)) "en"
      else if (s(1) >= s(2) && s(1) >= s(3) && s(1) >= s(4)) "de"
      else if (s(2) >= s(3) && s(2) >= s(4)) "es"
      else if (s(3) >= s(4)) "fr"
      else "zh"
    }
    samples(driftCorpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          docs.map { case (i, s, t) => Row(i, s, t) }, 3), schema)
      val got = operators.TextAnalysis.t39DriftCore(df).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
        .toMap
      // reference: per-dim categorical split by the %5 arrival rule
      val tagged = docs.map { case (id, src, text) =>
        (id % 5 == 0, src, predLang(text)) }
      val want = Seq(
        "source" -> tagged.map(d => (d._1, d._2)),
        "lang" -> tagged.map(d => (d._1, d._3))).flatMap { case (dim, xs) =>
        val totOld = xs.count(!_._1).toLong; val totNew = xs.count(_._1).toLong
        val perValue = xs.groupBy(_._2).toSeq.map { case (v, g) =>
          val on = g.count(!_._1).toLong; val nn = g.count(_._1).toLong
          // a fully-new (or fully-old) sample has a zero side total — the
          // operator defines those shares as 0 (first-increment case)
          val osp = if (totOld == 0) 0L else on * 10000L / totOld
          val nsp = if (totNew == 0) 0L else nn * 10000L / totNew
          (dim, v) -> ((on, nn, osp, nsp, math.abs(osp - nsp)))
        }
        val tvd = perValue.map(_._2._5).sum / 2
        perValue :+ ((dim, "__TOTAL__") -> ((totOld, totNew, 10000L, 10000L, tvd)))
      }.toMap
      assert(got === want)
    }
  }

  // BPE corpora: short words over a 3-char alphabet so repeated-char
  // runs ("aaa") and multi-merge words are reachable
  private val bpeCorpusGen: Gen[List[(Long, String)]] = Gen.listOf(for {
    id <- Gen.choose(0L, 19L)
    nw <- Gen.choose(1, 6)
    ws <- Gen.listOfN(nw, for {
      len <- Gen.choose(1, 5)
      cs <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
    } yield cs.mkString)
  } yield (id, ws.mkString(" "))).map(_.groupBy(_._1).map { case (id, ds) =>
    (id, ds.head._2)
  }.toList)

  test("t36 LM scores match the in-memory reference on random corpora") {
    // the kernel score pass (graft_lm_doc_score against the broadcast
    // model) must equal the declarative train/score semantics exactly:
    // corpus bigram counts → integer s_ppm → per-doc occurrence-weighted
    // integer mean. Small vocab forces heavy bigram sharing; split with
    // -1 keeps trailing empty tokens (Spark split semantics).
    def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
      def bigrams(t: String): Seq[(String, String)] = {
        val w = t.split(" ", -1)
        (0 until w.length - 1).map(i => (w(i), w(i + 1)))
      }
      val all = docs.flatMap(d => bigrams(d._2))
      val c12 = all.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
      val c1 = all.groupBy(_._1).map { case (w1, g) => w1 -> g.size.toLong }
      val sppm = c12.map { case (p, n) => p -> n * 1000000L / c1(p._1) }
      docs.flatMap { case (id, t) =>
        val bs = bigrams(t)
        if (bs.isEmpty) None
        else {
          val tot = bs.map(sppm).sum
          Some(id -> (bs.size.toLong, tot / bs.size))
        }
      }.toMap
    }
    samples(bpeCorpusGen, 15).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.TextAnalysis.t36Scores(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === reference(docs), s"corpus: $docs")
    }
  }

  test("p66 BPE merges match the in-memory reference on random corpora") {
    // the reference applies merges with Java String.replace — the SAME
    // left-to-right non-overlapping scan the distributed plan's replace()
    // uses — so even pathological same-char runs must agree exactly
    def learn(docs: Seq[(Long, String)]): Seq[(Long, String, String, String, Long)] = {
      val wc = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
        .filter { case (_, n) => n >= operators.Pipeline.BpeMinWordCount }
      var syms = wc.toSeq.map { case (w, n) =>
        (" " + w.map(c => s"$c ").mkString, n) }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, Long)]
      for (k <- 1 to operators.Pipeline.BpeMerges) {
        val pairs = scala.collection.mutable.Map.empty[String, Long]
        syms.foreach { case (s, n) =>
          val arr = s.trim.split(" ")
          if (arr.length >= 2) (0 until arr.length - 1).foreach { i =>
            val p = arr(i) + " " + arr(i + 1)
            pairs(p) = pairs.getOrElse(p, 0L) + n
          }
        }
        if (pairs.isEmpty) syms = Seq.empty
        else {
          val (bp, bn) = pairs.toSeq.minBy { case (p, n) => (-n, p) }
          val m = bp.replace(" ", "")
          out += ((k.toLong, bp.split(" ")(0), bp.split(" ")(1), m, bn))
          syms = syms.map { case (s, n) => (s.replace(s" $bp ", s" $m "), n) }
        }
      }
      out.toSeq
    }
    samples(bpeCorpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.Pipeline.p66BpeCore(df).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4))).toSeq
      assert(got === learn(docs), s"corpus: $docs")
    }
  }

  test("p68 BPE encode matches the in-memory learn+apply reference on random corpora") {
    // reference: learn merges exactly as the p66 reference does, then
    // encode each document via the same '|'-sentinel symbolization and
    // Java String.replace passes the distributed projection uses
    def learnPairs(docs: Seq[(Long, String)]): Seq[(String, String)] = {
      val wc = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
        .filter { case (_, n) => n >= operators.Pipeline.BpeMinWordCount }
      var syms = wc.toSeq.map { case (w, n) =>
        (" " + w.map(c => s"$c ").mkString, n) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 1 to operators.Pipeline.BpeMerges) {
        val pairs = scala.collection.mutable.Map.empty[String, Long]
        syms.foreach { case (s, n) =>
          val arr = s.trim.split(" ")
          if (arr.length >= 2) (0 until arr.length - 1).foreach { i =>
            val p = arr(i) + " " + arr(i + 1)
            pairs(p) = pairs.getOrElse(p, 0L) + n
          }
        }
        if (pairs.nonEmpty) {
          val (bp, _) = pairs.toSeq.minBy { case (p, n) => (-n, p) }
          val m = bp.replace(" ", "")
          out += ((bp, m))
          syms = syms.map { case (s, n) => (s.replace(s" $bp ", s" $m "), n) }
        }
      }
      out.toSeq
    }
    def encodeCount(text: String, merges: Seq[(String, String)]): Long = {
      var sym = " " + text.replace(' ', '|').map(c => s"$c ").mkString
      merges.foreach { case (p, m) => sym = sym.replace(s" $p ", s" $m ") }
      val t = sym.trim
      val nsyms =
        if (t.isEmpty) 0L else (t.length - t.replace(" ", "").length + 1).toLong
      nsyms - (sym.length - sym.replace("|", "").length).toLong
    }
    samples(bpeCorpusGen, 15).filter(_.nonEmpty).foreach { docs =>
      val merges = learnPairs(docs)
      val expected = docs.groupBy(d => s"src${d._1 % 2}").map { case (src, ds) =>
        (src, ds.size.toLong,
          ds.map(_._2.replace(" ", "").length.toLong).sum,
          ds.map(d => encodeCount(d._2, merges)).sum)
      }.toSeq.sortBy(_._1)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          docs.map { case (i, t) => Row(i, t, s"src${i % 2}") }, 3), schema)
      val got = operators.Pipeline.p68BpeEncodeCore(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got === expected, s"corpus: $docs merges: $merges")
    }
  }

  test("d37 bloom classification matches an in-memory filter on duplicate-seeded corpora") {
    import graft.functions.PortableHash._
    // corpora where batch docs (id % 5 == 0) often copy a corpus doc's
    // text — the true_positive arm the synthetic corpus never exercises;
    // tiny vocabularies force hash collisions → false_positive reachable
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(10, 40)
      docs <- Gen.listOfN(n, Gen.choose(0, 12).map(i => s"w$i"))
    } yield docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    def phStr(s: String): Long =
      graft.functions.TextHash.ph(s.getBytes("UTF-8"))
    samples(corpusGen, 12).filter(_.nonEmpty).foreach { docs =>
      val corpus = docs.filter(_._1 % operators.Dedup.IncrementalBatchMod != 0)
      val batch = docs.filter(_._1 % operators.Dedup.IncrementalBatchMod == 0)
      if (corpus.nonEmpty && batch.nonEmpty) {
        val keys = corpus.map(d => phStr(d._2) % P).toSet
        val mBits = math.max(BloomMinBits, BloomBitsPerKey * keys.size)
        def positions(x: Long): Set[Long] = (0 until BloomK).map { j =>
          val s = BloomSeedOffset + j
          (seedA(s) * x + seedB(s)) % P % mBits
        }.toSet
        val bloom = keys.flatMap(positions)
        val corpusTexts = corpus.map(_._2).toSet
        val expected = batch.groupBy { case (_, t) =>
          val hit = positions(phStr(t) % P).subsetOf(bloom)
          val exact = corpusTexts.contains(t)
          if (hit && exact) "true_positive"
          else if (hit) "false_positive"
          else if (exact) "false_negative"
          else "true_negative"
        }.map { case (o, g) =>
          (o, g.size.toLong, g.size.toLong * 10000 / batch.size)
        }.toSeq.sortBy(_._1)
        assert(!expected.exists(_._1 == "false_negative"))
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType)))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
        val got = operators.Dedup.d37BloomCore(df).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got === expected, s"corpus: $docs")
      }
    }
  }

  test("graft_hash_vec equals the in-memory signed-bucket fold on random token arrays") {
    import graft.functions.PortableHash.HashVecDim
    val tokGen: Gen[List[String]] = Gen.listOf(Gen.oneOf(
      Gen.choose(0, 30).map(i => s"tok$i"), Gen.const(""), Gen.const("the")))
    samples(tokGen, 25).foreach { toks =>
      val expected = new Array[Double](HashVecDim)
      toks.foreach { w =>
        val h = graft.functions.TextHash.ph(w.getBytes("UTF-8"))
        val b = (h % HashVecDim).toInt
        if ((h / HashVecDim) % 2 == 0L) expected(b) += 1.0 else expected(b) -= 1.0
      }
      val schema = StructType(Seq(StructField("words", ArrayType(StringType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(toks)), 1), schema)
      graft.functions.GraftFunctions.register(spark)
      val got = df.selectExpr("graft_hash_vec(words)").head.getSeq[Double](0)
      assert(got.toArray.toSeq === expected.toSeq, s"tokens: $toks")
    }
  }

  test("d38 LSH recall bands match the in-memory truth/candidate reference") {
    import graft.functions.TextHash
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // small vocab + shared prefixes → natural mid-Jaccard pairs (the
    // synthetic corpus only has 0.9+ near-dups)
    val corpusGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(6, 16)
      base <- Gen.listOfN(30, Gen.choose(0, 9).map(i => s"w$i"))
      docs <- Gen.listOfN(n, for {
        keep <- Gen.choose(3, 30)
        extra <- Gen.listOfN(4, Gen.choose(10, 14).map(i => s"w$i"))
        nx <- Gen.choose(0, 4)
      } yield (base.take(keep) ++ extra.take(nx)).mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def shinglesOf(text: String): Seq[String] = {
      val w = text.split(" ")
      if (w.length < 3) Seq.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").distinct
    }
    def bandsOf(sh: Seq[String]): Seq[String] =
      TextHash.minhashBands(new GenericArrayData(
        sh.map(UTF8String.fromString).toArray[Any])).map(_.toString).toSeq
    samples(corpusGen, 12).filter(_.nonEmpty).foreach { docs =>
      val withSh = docs.map { case (i, t) => (i, shinglesOf(t)) }
        .filter(_._2.nonEmpty)
      val pairs = for {
        (ia, sa) <- withSh; (ib, sb) <- withSh
        if ia < ib
      } yield {
        val ha = sa.map(s => TextHash.ph(s.getBytes("UTF-8"))).distinct.toSet
        val hb = sb.map(s => TextHash.ph(s.getBytes("UTF-8"))).distinct.toSet
        val inter = (ha & hb).size.toLong
        val jpm = if (inter == 0) 0L else inter * 10000 / (ha.size + hb.size - inter)
        val caught = bandsOf(sa).zip(bandsOf(sb)).exists { case (x, y) => x == y }
        (jpm, caught)
      }
      val expected = pairs.filter(_._1 >= 5000).groupBy(_._1 / 1000)
        .map { case (band, g) =>
          val nP = g.size.toLong; val nC = g.count(_._2).toLong
          val s = if (band == 10) 1.0 else (band * 1000 + 500) / 10000.0
          val t4 = s * s * s * s; val q1 = 1.0 - t4
          val theory = math.round((1.0 - q1 * q1 * q1 * q1) * 10000)
          (band, nP, nC, nC * 10000 / nP, theory)
        }.toSeq.sortBy(_._1)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.Dedup.d38LshRecallCore(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got === expected, s"corpus: $docs")
    }
  }

  test("d22 band buckets over BandBucketCap are dropped; selective buckets survive") {
    // adversarial arm for the per-bucket frequency cap (VERDICT r13
    // item 1): cap+10 byte-identical boilerplate docs collapse into ONE
    // band bucket per band — without the cap that's (cap+10)²/2 pairs
    // from pure boilerplate (the 100 TB quadratic); with it, zero. Two
    // genuine near-dups in their own bucket of 2 must still pair.
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val boiler = "terms of service apply to all users of this site"
    // byte-identical pair: every band matches by construction, so the
    // survives-the-cap side never depends on hash luck
    val nearA = "the quick brown fox jumps over the lazy dog tonight"
    val nearB = nearA
    val n = operators.Dedup.BandBucketCap + 10
    val docs = (0 until n).map(i => (i.toLong, boiler)) ++
      Seq((1000L, nearA), (1001L, nearB))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
    val sh = df.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("shingles", expr("graft_shingles3(words)"))
    val pairs = operators.Dedup.minhashBandPairsOf(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a < 1000 && b < 1000 },
      "boilerplate bucket over the cap must emit no pairs")
    assert(pairs.contains((1000L, 1001L)),
      "a selective bucket under the cap must still pair")
  }

  test("orderAssembly matches the left join; null-odate and orphan contracts hold") {
    // ADVICE r13: the aggregate-assembly's trailing isNotNull leans on
    // two data contracts (unique o_orderkey, non-null o_orderdate).
    // This arm exercises the documented edges: a lineitem orphan is
    // dropped (exact left-join semantics) and a matched order whose
    // o_orderdate is literally NULL is dropped too (the documented
    // deviation — a join would keep it with null odate).
    import java.sql.Date
    val ordersGen: Gen[List[(Long, Option[Int], String, String)]] =
      Gen.listOf(for {
        k <- Gen.choose(1L, 12L)
        d <- Gen.option(Gen.choose(0, 1000))
        st <- Gen.oneOf("O", "F", "P")
        pr <- Gen.oneOf("1-URGENT", "3-MEDIUM", "5-LOW")
      } yield (k, d, st, pr)).map(_.distinctBy(_._1)) // unique key contract
    val itemsGen: Gen[List[(Long, Int)]] = Gen.listOf(for {
      k <- Gen.choose(1L, 15L) // 13–15 are always orphans
      sd <- Gen.choose(0, 1000)
    } yield (k, sd))
    def day(i: Int): Date = Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
    samples(Gen.zip(ordersGen, itemsGen), 15).foreach { case (os, lis) =>
      val expect = os.filter(_._2.isDefined).map { case (k, d, st, pr) =>
        val ships = lis.filter(_._1 == k).map(_._2)
        (k, day(d.get), st == "F", pr == "1-URGENT" || pr == "2-HIGH",
          ships.minOption.map(day).orNull, ships.maxOption.map(day).orNull)
      }.toSet
      val oSchema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_orderdate", DateType),
        StructField("o_orderstatus", StringType), StructField("o_orderpriority", StringType)))
      val liSchema = StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_shipdate", DateType)))
      val oDf = spark.createDataFrame(spark.sparkContext.parallelize(
        os.map { case (k, d, st, pr) => Row(k, d.map(day).orNull, st, pr) }, 2), oSchema)
      val liDf = spark.createDataFrame(spark.sparkContext.parallelize(
        lis.map { case (k, sd) => Row(k, day(sd)) }, 2), liSchema)
      val got = Tables.orderAssemblyOf(oDf, liDf).collect()
        .map(r => (r.getLong(0), r.getDate(1), r.getBoolean(2), r.getBoolean(3),
          r.getDate(4), r.getDate(5))).toSet
      assert(got === expect, s"orders: $os, lineitems: $lis")
    }
  }

  test("q68 gap fill matches the in-memory spine/LOCF reference on sparse series") {
    import java.sql.Timestamp
    // sparse series: few types, scattered hours over a 3-day range, so
    // leading gaps, long null stretches, and single-hour types all occur
    val seriesGen: Gen[List[(String, Long, Double)]] = Gen.listOf(for {
      t <- Gen.choose(0, 2).map(i => s"t$i")
      hr <- Gen.choose(0L, 71L)
      v <- Gen.choose(-5000, 5000).map(_ / 100.0)
    } yield (t, hr, v))
    val base = 1700000000000L - (1700000000000L % 3600000L) // hour-aligned epoch ms
    samples(seriesGen, 15).filter(_.nonEmpty).foreach { evs =>
      val byHour = evs.groupBy(e => (e._1, e._2))
      val minH = evs.map(_._2).min; val maxH = evs.map(_._2).max
      val types = evs.map(_._1).distinct.sorted
      val expected = types.flatMap { t =>
        var locf: Option[Long] = None
        (minH to maxH).map { h =>
          val cell = byHour.get((t, h))
          val n = cell.map(_.size.toLong).getOrElse(0L)
          val sv = cell.map(_.map(e => math.floor(e._3 * 100).toLong).sum)
          sv.foreach(v => locf = Some(v))
          (t, h, n, sv, locf)
        }
      }
      val schema = StructType(Seq(
        StructField("event_type", StringType), StructField("ts", TimestampType),
        StructField("value", DoubleType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        evs.map { case (t, h, v) =>
          Row(t, new Timestamp(base + h * 3600000L + 60000L), v) }, 3), schema)
      val got = operators.CoreQueries.q68GapFillCore(df).collect().map { r =>
        val h = (r.getTimestamp(1).getTime - base) / 3600000L
        (r.getString(0), h, r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toSeq
      assert(got === expected.map(e => (e._1, e._2, e._3, e._4, e._5)),
        s"series: $evs")
    }
  }

  test("s34 SQ round-trip stays inside the per-dim quantization bound") {
    import org.apache.spark.sql.functions._
    // random 4-dim int64 grids incl. negative values, constant dims
    // (span 0) and spans below/above 255
    val vecGen: Gen[List[List[Long]]] = Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-2000000L, 2000000L)))
    samples(vecGen, 15).filter(_.nonEmpty).foreach { vecs0 =>
      // force one constant dim so span = 0 is always exercised
      val vecs = vecs0.map(v => v.updated(0, 7L))
      val schema = StructType(Seq(StructField("q", ArrayType(LongType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(vecs.map(v => Row(v)), 2), schema)
      val model = df.agg(
        array((1 to 4).map(i => min(element_at(col("q"), i))): _*).as("lo"),
        array((1 to 4).map(i => max(element_at(col("q"), i))): _*).as("hi"))
      graft.functions.GraftFunctions.register(spark)
      val rows = df.crossJoin(broadcast(model))
        .select(col("q"), col("lo"), col("hi"),
          operators.Similarity.sqXhat.as("xhat"))
        .collect()
      rows.foreach { r =>
        val q = r.getSeq[Long](0); val lo = r.getSeq[Long](1)
        val hi = r.getSeq[Long](2); val xh = r.getSeq[Long](3)
        (0 until 4).foreach { i =>
          val span = math.max(1L, hi(i) - lo(i))
          // reconstruction bound: one 8-bit affine step of error, and
          // the reconstruction never leaves the corpus bounds
          assert(math.abs(xh(i) - q(i)) <= span / 255L + 1,
            s"dim $i: q=${q(i)} xhat=${xh(i)} span=$span")
          assert(xh(i) >= lo(i) && xh(i) <= hi(i))
          // a constant dim must round-trip exactly
          if (hi(i) == lo(i)) assert(xh(i) === q(i))
        }
      }
    }
  }

  test("p60 vocab matches the in-memory frequency table on random corpora") {
    samples(corpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.Pipeline.p60VocabCore(df).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val occ = docs.flatMap { case (_, t) => t.split(" ") }
        .groupBy(identity).map { case (w, v) => w -> v.size.toLong }
      val dfm = docs.flatMap { case (id, t) => t.split(" ").distinct.map(w => (w, id)) }
        .groupBy(_._1).map { case (w, v) => w -> v.size.toLong }
      val total = occ.values.sum
      val ranked = occ.toSeq.sortBy { case (w, n) => (-n, w) }
        .take(operators.Pipeline.VocabTopK)
      var cum = 0L
      val want = ranked.zipWithIndex.map { case ((w, n), i) =>
        cum += n
        (i + 1).toLong -> ((w, n, dfm(w), cum * 10000L / total))
      }.toMap
      assert(got === want)
    }
  }

  test("distinct graft_window_hashes(w=3) equals graft_shingle_hashes3 on real docs") {
    // the stride-1 window family at w=3, deduped in first-occurrence
    // order, must be exactly the distinct-3-gram hash family d24/t32 use
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val mismatches = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(expr("array_distinct(graft_window_hashes(words, 3))").as("win"),
        expr("graft_shingle_hashes3(words)").as("sh"))
      .filter(col("win") =!= col("sh"))
      .count()
    assert(mismatches === 0L)
  }

  test("graft_window_hashes rejects widths outside [1, Int.MaxValue] at analysis") {
    // 4294967298L wraps to 2 under a blind intValue() truncation — it must
    // fail analysis, not silently compute width-2 window hashes
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("words", split(col("text"), " "))
    for (bad <- Seq("4294967298", "0", "-1")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        docs.select(expr(s"graft_window_hashes(words, ${bad}L)")).collect()
      }
      assert(e.getMessage.contains("graft_window_hashes"), s"width $bad: ${e.getMessage}")
    }
    // boundary: w=1 is legal and hashes every token
    val n = docs.limit(5)
      .select(expr("size(graft_window_hashes(words, 1)) = size(words)").as("ok"))
      .filter(!col("ok")).count()
    assert(n === 0L)
  }

  test("simhash of similar token sets is close, of disjoint sets is far") {
    val base = (1 to 60).map(i => s"token$i")
    import graft.functions.TextHash
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def sig(ts: Seq[String]) = TextHash.simhash48(
      new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any]))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = hamming(sig(base), sig(base.drop(2)))           // 58/60 shared
    val far = hamming(sig(base), sig((1 to 60).map(i => s"other$i")))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 12, s"near-duplicate hamming too large: $near")
  }

  test("t37 count-min sketch matches the in-memory reference on random corpora") {
    val P = graft.functions.PortableHash.P
    val D = operators.TextAnalysis.CmsRows
    val W = operators.TextAnalysis.CmsWidth
    val K = operators.TextAnalysis.CmsTopK
    samples(corpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.TextAnalysis.t37CmsCore(df).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val tf = docs.flatMap(_._2.split(" ", -1)).groupBy(identity)
        .map { case (t, o) => t -> o.size.toLong }
      def bucket(j: Int, tok: String): Long =
        ((2L * j + 67L) * (graft.functions.TextHash.ph(tok.getBytes("UTF-8")) % P) +
          7919L * j + 253409L) % P % W
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
      tf.foreach { case (t, n) =>
        (0 until D).foreach(j => cells((j, bucket(j, t))) += n) }
      val want = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(K)
        .zipWithIndex.map { case ((t, n), i) =>
          val cms = (0 until D).map(j => cells((j, bucket(j, t)))).min
          (i + 1).toLong -> ((t, n, cms, (cms - n) * 10000L / n))
        }.toMap
      assert(got === want)
      // every estimate dominates the truth — the CMS guarantee
      got.values.foreach { case (_, exact, cms, _) => assert(cms >= exact) }
    }
  }

  // longer docs than corpusGen (winnowing needs ≥ SpanTokens words) with a
  // tiny vocabulary so span-hash ties and repeats actually occur; lengths
  // straddle both exclusion (< w) and the clipped-window case (n_h < W)
  private val winnowCorpusGen: Gen[List[(Long, String)]] = Gen.listOf(for {
    id <- Gen.choose(0L, 19L)
    nw <- Gen.choose(1, 40)
    ws <- Gen.listOfN(nw, Gen.choose(0, 4).map(i => s"w$i"))
  } yield (id, ws.mkString(" "))).map(_.groupBy(_._1).map(_._2.head).toList)

  test("d33 winnowing matches the in-memory reference on random corpora") {
    val w = operators.Dedup.SpanTokens
    val W = operators.Dedup.WinnowWindow
    val mask = operators.Dedup.WinnowHashMask
    val posW = 1L << operators.Dedup.WinnowPosBits
    graft.functions.GraftFunctions.register(spark)
    samples(winnowCorpusGen, 20).filter(_.nonEmpty).foreach { docs =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3), schema)
      val got = operators.Dedup.d33WinnowCore(df).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      val want = docs.flatMap { case (id, t) =>
        val words = t.split(" ")
        if (words.length < w) None else {
          val nH = words.length - w + 1
          val keys = (0 until nH).map { i =>
            val h = graft.functions.TextHash.ph(
              words.slice(i, i + w).mkString(" ").getBytes("UTF-8"))
            (h & mask) * posW + (posW - 1 - i)
          }
          val fps = (0 to math.max(0, nH - W))
            .map(j => keys.slice(j, math.min(j + W, nH)).min).distinct
          val f40 = fps.map(_ / posW)
          Some(id -> ((nH.toLong, fps.size.toLong, fps.size.toLong * 10000L / nH,
            f40.min, f40.max)))
        }
      }.toMap
      assert(got === want)
    }
  }

  test("t40 entropy kernel matches an in-memory reference on adversarial texts") {
    graft.functions.GraftFunctions.register(spark)
    val wordGen = Gen.oneOf("the", "cat", "日本語", "aa", "", "x", "éß")
    val textGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val textsGen = Gen.listOfN(8, textGen)
    samples(textsGen, 25).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.map { case (i, l, t) => Row(i, l, t) }, 3),
        schema)
      val got = operators.TextAnalysis.t40EntropyCore(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getLong(7), r.getInt(8))))
        .toMap
      def ent(counts: Iterable[Long], n: Long): Double =
        if (n == 0L) 0.0
        else math.log(n.toDouble) -
          counts.map(c => c * math.log(c.toDouble)).sum / n
      val want = docs.map { case (id, _, t) =>
        val cps = t.codePoints().toArray.toSeq
        val charCounts = cps.groupBy(identity).map(_._2.size.toLong)
        // split(' ') with empties kept — string_split parity
        val words = {
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var start = 0
          for (j <- 0 to t.length)
            if (j == t.length || t.charAt(j) == ' ') { b += t.substring(start, j); start = j + 1 }
          b.toSeq
        }
        val wordCounts = words.groupBy(identity).map(_._2.size.toLong)
        val nc = cps.size.toLong
        val nw = words.size.toLong
        val ce = BigDecimal(ent(charCounts, nc)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val we = BigDecimal(ent(wordCounts, nw)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> ((nc, nw, wordCounts.size.toLong, ce, we,
          wordCounts.size.toLong * 10000L / nw,
          if (ce < operators.TextAnalysis.LowEntropyBar) 1 else 0))
      }.toMap
      for ((id, w) <- want) {
        val g = got(id)
        assert(g._1 === w._1 && g._2 === w._2 && g._3 === w._3, s"counts for doc $id")
        assert(math.abs(g._4 - w._4) < 1e-9 && math.abs(g._5 - w._5) < 1e-9,
          s"entropies for doc $id: got $g want $w")
        assert(g._6 === w._6 && g._7 === w._7, s"ttr/flag for doc $id")
      }
    }
  }

  test("q73 attribution matches the in-memory credit reference on random layouts") {
    val DayUs = 86400L * 1000000L
    // few users, timestamps straddling the 7-day window boundary, all
    // four event types — so empty windows, single-touch and multi-touch
    // conversions, and exact-boundary touches all occur
    val evGen: Gen[List[(Long, Long, String, Long)]] = Gen.listOf(for {
      id <- Gen.choose(0L, 499L)
      uid <- Gen.choose(0L, 4L)
      tp <- Gen.oneOf("purchase", "view", "click", "signup")
      us <- Gen.choose(0L, 20L).map(_ * (DayUs / 2))
    } yield (id, uid, tp, us)).map(_.groupBy(_._1).map(_._2.head).toList)
    samples(evGen, 20).filter(_.exists(_._3 == "purchase")).foreach { evs =>
      val rows = evs.map { case (id, uid, tp, us) =>
        Row(id, uid, tp, new java.sql.Timestamp(us / 1000L)) }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("ts", TimestampType)))
      val got = operators.CoreQueries.q73AttributionCore(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 3), schema)).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // in-memory reference
      val purchases = evs.filter(_._3 == "purchase")
      val touches = evs.filter(e => Set("view", "click", "signup")(e._3))
      val credits = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
        .withDefaultValue((0L, 0L, 0L, 0L))
      var unattributed = 0L
      purchases.foreach { case (_, uid, _, pus) =>
        // r17 tie-break: boundary credit goes to the lexicographically
        // first/last TYPE at the boundary ts (matches the packed-int64
        // aggregate and the DuckDB mirror's ORDER BY t_ts, touch_type)
        val w = touches.filter(t => t._2 == uid && t._4 < pus &&
          t._4 >= pus - 7 * DayUs).sortBy(t => (t._4, t._3))
        if (w.isEmpty) unattributed += 1
        else {
          val n = w.size
          w.zipWithIndex.foreach { case ((tid, _, tp, _), i) =>
            val (c, f, l, lin) = credits(tp)
            credits(tp) = (c + 1,
              f + (if (i == 0) 10000L else 0L),
              l + (if (i == n - 1) 10000L else 0L),
              lin + 10000L / n)
          }
        }
      }
      val want = credits.toMap +
        ("__NONE__" -> ((unattributed, unattributed * 10000,
          unattributed * 10000, unattributed * 10000)))
      assert(got === want)
    }
  }

  test("q72 MAD anomalies match the in-memory Hampel reference on spiked series") {
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    // mostly-flat daily volumes with occasional spikes/droughts so both
    // flag arms fire; ≥3 days per type so the MAD is meaningful
    val seriesGen: Gen[List[(String, Int, Int)]] = Gen.listOf(for {
      tp <- Gen.oneOf("view", "click")
      day <- Gen.choose(1, 20)
      n <- Gen.frequency(8 -> Gen.choose(95, 105), 2 -> Gen.oneOf(1, 500, 1000))
    } yield (tp, day, n)).map(_.groupBy(t => (t._1, t._2))
      .map { case ((tp, d), xs) => (tp, d, xs.head._3) }.toList)
    var anomaliesSeen = 0L
    samples(seriesGen, 15).filter(_.map(_._1).distinct.nonEmpty).foreach { series =>
      val rows = series.flatMap { case (tp, d, n) =>
        Seq.fill(n)(Row(tp, java.sql.Date.valueOf(f"2024-01-$d%02d"))) }
      if (rows.nonEmpty) {
        val schema = StructType(Seq(
          StructField("event_type", StringType), StructField("event_date", DateType)))
        val got = operators.CoreQueries.q72AnomalyCore(spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 3), schema)).collect()
          .map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6))))
          .toMap
        val want = series.groupBy(_._1).flatMap { case (tp, xs) =>
          val counts = xs.map { case (_, d, n) => d -> n.toLong }.toMap
          val m2 = med2(counts.values.toSeq)
          val devs = counts.map { case (d, n) => d -> math.abs(2 * n - m2) }
          val m4 = med2(devs.values.toSeq)
          counts.map { case (d, n) =>
            (tp, f"2024-01-$d%02d") ->
              ((n, m2, devs(d), m4, if (devs(d) * 20000 > m4 * 44478) 1 else 0)) }
        }
        assert(got === want)
        anomaliesSeen += want.values.count(_._5 == 1)
      }
    }
    assert(anomaliesSeen > 0, "generator never produced an anomaly — test is vacuous")
  }

  test("p69 DSIR selection matches the in-memory importance reference") {
    val B = operators.Pipeline.DsirBuckets
    def phRef(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    }
    def featsOf(t: String): Seq[Long] = {
      val ws = t.split(" ", -1).toSeq
      ws.map(w => phRef(w) % B) ++
        ws.sliding(2).filter(_.size == 2).map(p => phRef(p(0) + " " + p(1)) % B)
    }
    // ids 0..19 make both target docs (0, 13) and raw docs reachable
    samples(corpusGen, 20).filter(_.exists(_._1 % 13 != 0)).foreach { docs =>
      val fc = docs.flatMap { case (id, t) => featsOf(t).map(f => (id, f)) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val tF = fc.toSeq.collect { case ((id, f), c) if id % 13 == 0 => f -> c }
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
      val rF = fc.toSeq.collect { case ((id, f), c) if id % 13 != 0 => f -> c }
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).sum }
      val (tTot, rTot) = (tF.values.sum, rF.values.sum)
      val want = fc.keys.filter(_._1 % 13 != 0).groupBy(_._1).map { case (id, ks) =>
        val lam = ks.toSeq.map { case k @ (_, f) =>
          fc(k) * (math.log((tF.getOrElse(f, 0L) + 1).toDouble) -
            math.log((rF.getOrElse(f, 0L) + 1).toDouble) +
            math.log((rTot + B).toDouble) - math.log((tTot + B).toDouble))
        }.sum
        id -> ((ks.toSeq.map(fc).sum, lam))
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val got = operators.Pipeline.p69DsirCore(spark.createDataFrame(
          spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 3),
          schema)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getInt(3))))
        .toMap
      assert(got.keySet === want.keySet)
      for ((id, (nf, lam)) <- want) {
        val (gn, gl, gs) = got(id)
        assert(gn === nf, s"n_feats for doc $id")
        assert(math.abs(gl - lam) < 1e-6, s"log_ratio for doc $id: got $gl want $lam")
        assert(gs === (if (gl >= 0) 1 else 0), s"selected flag for doc $id")
      }
    }
  }

  test("orderAssembly equals the join-shape reference on random order/lineitem layouts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // layouts include orders with 0 lineitems (null first/last ship),
    // shared ship dates, AND orphan lineitems whose key has no orders
    // row (ADVICE r11: the left join dropped them; the trailing
    // isNotNull filter must too — no manufactured null-odate subjects)
    val gen = for {
      nOrders <- Gen.choose(1, 12)
      orders <- Gen.sequence[List[(Long, Int, String, String)], (Long, Int, String, String)](
        (1 to nOrders).map(k => for {
          d <- Gen.choose(0, 2000)
          st <- Gen.oneOf("F", "O", "P")
          pr <- Gen.oneOf("1-URGENT", "2-HIGH", "3-MEDIUM")
        } yield (k.toLong, d, st, pr)))
      lines <- Gen.listOf(for {
        k <- Gen.choose(1L, nOrders.toLong + 3L)
        s <- Gen.choose(0, 2500)
      } yield (k, s))
    } yield (orders, lines)
    samples(gen, 12).foreach { case (orders, lines) =>
      val epoch = java.time.LocalDate.of(1995, 1, 1)
      def date(d: Int) = java.sql.Date.valueOf(epoch.plusDays(d))
      val odf = orders.map { case (k, d, st, pr) => (k, date(d), st, pr) }
        .toDF("o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority")
      val ldf = lines.map { case (k, s) => (k, date(s)) }
        .toDF("l_orderkey", "l_shipdate")
      // the production shape, on injected frames (same expressions as
      // Tables.orderAssembly with the loader swapped out)
      val asm = odf.select(col("o_orderkey").as("k"),
          col("o_orderdate").cast("date").as("odate"),
          (col("o_orderstatus") === "F").cast("int").as("fin"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").as("exped"),
          lit(null).cast("date").as("ship"))
        .unionByName(ldf.select(col("l_orderkey").as("k"),
          lit(null).cast("date").as("odate"),
          lit(null).cast("int").as("fin"),
          lit(null).cast("int").as("exped"),
          col("l_shipdate").cast("date").as("ship")))
        .groupBy("k").agg(
          max(col("odate")).as("odate"),
          (max(col("fin")) === 1).as("is_final"),
          (max(col("exped")) === 1).as("is_expedited"),
          min(col("ship")).as("first_ship"),
          max(col("ship")).as("last_ship"))
        .filter(col("odate").isNotNull)
        .collect().map(r => r.getLong(0) ->
          (r.getDate(1), r.getBoolean(2), r.getBoolean(3),
            Option(r.getDate(4)).map(_.toString),
            Option(r.getDate(5)).map(_.toString))).toMap
      val ref = orders.map { case (k, d, st, pr) =>
        val ships = lines.filter(_._1 == k).map(_._2)
        k -> (date(d), st == "F", pr == "1-URGENT" || pr == "2-HIGH",
          if (ships.isEmpty) None else Some(date(ships.min).toString),
          if (ships.isEmpty) None else Some(date(ships.max).toString))
      }.toMap
      assert(asm === ref)
    }
  }

  test("q10-style histogram quantiles equal percentile() on random integer-valued groups") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // the q10 device: value-grain histogram + interpolated order
    // statistics must equal Spark's percentile() (itself oracle-matched
    // to DuckDB quantile_cont) on any integer-valued column — including
    // 1-row groups (lo == hi) and exact-boundary positions (q·(n−1)
    // integral). Both sides carry production q10's round(…, 4)
    // (CoreQueries.scala q10Quantiles): the interpolation formula
    // lo + (hi−lo)·frac can diverge from percentile()'s accumulation
    // order by 1 ulp, which production's rounding absorbs.
    val gen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0L, 40L)
    } yield (g, v))
    samples(gen, 15).foreach { rows =>
      val df = rows.toDF("g", "v")
      val truth = df.groupBy("g").agg(
          round(expr("percentile(v, 0.5)"), 4).as("p50"),
          round(expr("percentile(v, 0.75)"), 4).as("p75"),
          round(expr("percentile(v, 0.95)"), 4).as("p95"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val grid = df.groupBy(col("g"), col("v").as("d")).agg(count(lit(1)).as("cnt"))
      val wOrd = Window.partitionBy("g").orderBy("d")
      val cum = grid
        .withColumn("cum", sum(col("cnt")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("g")))
      val got = cum
        .withColumn("q", explode(array(lit(0.5), lit(0.75), lit(0.95))))
        .withColumn("pos", col("q") * (col("n") - 1L).cast("double"))
        .withColumn("lo_rank", floor(col("pos")).cast("long"))
        .withColumn("hi_rank", least(col("lo_rank") + 1L, col("n") - 1L))
        .withColumn("which", explode(array(lit("lo"), lit("hi"))))
        .withColumn("rank",
          when(col("which") === "lo", col("lo_rank")).otherwise(col("hi_rank")))
        .filter(col("rank") >= col("cum") - col("cnt") && col("rank") < col("cum"))
        .groupBy("g", "q")
        .agg(
          max(when(col("which") === "lo", col("d"))).cast("double").as("lo_v"),
          max(when(col("which") === "hi", col("d"))).cast("double").as("hi_v"),
          max(col("pos")).as("pos"), max(col("lo_rank")).as("lo_rank"))
        .withColumn("v", round(col("lo_v") + (col("hi_v") - col("lo_v")) *
          (col("pos") - col("lo_rank").cast("double")), 4))
        .groupBy("g").agg(
          max(when(col("q") === 0.5, col("v"))).as("p50"),
          max(when(col("q") === 0.75, col("v"))).as("p75"),
          max(when(col("q") === 0.95, col("v"))).as("p95"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(got === truth)
    }
  }

  // ---- r12 kernel-parity properties: each codegen'd kernel must equal
  // the declarative SQL chain it replaced, bit-for-bit, on adversarial
  // inputs — the kernels are hand-derived scanners/loops, so the SQL
  // chain (itself oracle-matched to DuckDB) is the reference.

  test("graft_ph equals the md5/conv SQL chain on random strings") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val sGen = Gen.oneOf(
      Gen.listOf(Gen.alphaNumChar).map(_.mkString),
      Gen.listOf(Gen.oneOf('a', 'Z', '0', '9', ' ', 'é', '中', '@', '.')).map(_.mkString))
    samples(sGen, 120).foreach { s =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(s)), 1),
        StructType(Seq(StructField("s", StringType))))
      val r = df.select(
          call_function("graft_ph", col("s")).as("k"),
          conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("ref"))
        .head()
      assert(r.getLong(0) === r.getLong(1), s"input: ${s.take(60)}")
    }
  }

  test("graft_pii_scrub equals the regexp_count/regexp_replace chain on adversarial text") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis.{EmailPat, SsnPat, PhonePat}
    graft.functions.GraftFunctions.register(spark)
    // fragments chosen to stress the email scanner's backtracking
    // (domain-run failures, @-chains, short TLDs), SSN/phone boundary
    // shapes, and overlaps between the three patterns
    val frag = Gen.oneOf(
      "a@b.cd", "x123@y.z", "user9@mail.example.com", "a@b@c.com",
      "a@.com", "a@b.c", "a@b.cc", ".x@-.co", "A@b.com", "a@B.com",
      "123-45-6789", "1234-56-78901", "12-34-5678", "123-45-678",
      "555-0123", "555-01ab", "555-012", "5555-0123", "555-01234",
      "123-45-6789@x.co", "555-0199-88-7766", "plain words here",
      "..", "@@", "-", "%+._", "9", "é中", " ", "x")
    val textGen = Gen.listOf(frag).map(_.mkString(""))
    val textGenSp = Gen.listOf(frag).map(_.mkString(" "))
    // dense random strings over exactly the pattern alphabet — stresses
    // the email scanner's resume-at-@+1 rule and run boundaries harder
    // than any hand-picked fragment
    val charGen = Gen.listOf(Gen.oneOf(
      'a', 'b', 'c', '@', '.', '-', '5', '0', '1', '2', '9', ' ', '%', '_', '+'))
      .map(_.mkString)
    Seq(textGen, textGenSp, charGen).foreach { g =>
      samples(g, 150).foreach { s =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(s)), 1),
          StructType(Seq(StructField("raw", StringType))))
        val r = df.select(
            expr("graft_pii_scrub(raw)").as("k"),
            regexp_count(col("raw"), lit(EmailPat)).cast("long").as("n_email"),
            regexp_count(col("raw"), lit(SsnPat)).cast("long").as("n_ssn"),
            regexp_count(col("raw"), lit(PhonePat)).cast("long").as("n_phone"),
            regexp_replace(regexp_replace(regexp_replace(col("raw"),
              lit(EmailPat), lit("<EMAIL>")),
              lit(SsnPat), lit("<SSN>")),
              lit(PhonePat), lit("<PHONE>")).as("clean"))
          .head()
        val k = r.getStruct(0)
        assert(k.getLong(0) === r.getLong(1), s"n_email on: ${s.take(80)}")
        assert(k.getLong(1) === r.getLong(2), s"n_ssn on: ${s.take(80)}")
        assert(k.getLong(2) === r.getLong(3), s"n_phone on: ${s.take(80)}")
        assert(k.getString(3) === r.getString(4), s"clean on: ${s.take(80)}")
      }
    }
  }

  test("graft_quantize_vec equals the transform(floor(x*1e6)) chain on random vectors") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val vGen = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))
    samples(vGen, 60).foreach { v =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(v)), 1),
        StructType(Seq(StructField("embedding", ArrayType(FloatType)))))
      val r = df.select(
          call_function("graft_quantize_vec", col("embedding")).as("k"),
          transform(col("embedding"),
            x => floor(x * lit(1000000.0d)).cast("long")).as("ref"))
        .head()
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"input: $v")
    }
  }

  test("graft_hll_rho equals the bin()-length chain across the 60-bit domain") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val pb1 = graft.functions.PortableHash.HllPatternBits + 1
    val wGen = Gen.oneOf(Gen.const(0L), Gen.const(1L),
      Gen.const((1L << 52) - 1), Gen.choose(0L, (1L << 52) - 1),
      Gen.choose(0L, 255L))
    val ws = samples(wGen, 200)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(ws.map(Row(_)), 2),
      StructType(Seq(StructField("w", LongType))))
    val rows = df.select(col("w"),
        call_function("graft_hll_rho", col("w")).as("k"),
        when(col("w") === 0, lit(pb1))
          .otherwise(lit(pb1) - length(bin(col("w")))).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getInt(1) === r.getInt(2), s"w=${r.getLong(0)}"))
  }
}
