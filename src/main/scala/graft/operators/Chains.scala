package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Checkpoints, Tables}

/** q46: transitive link-chain resolution — iterate-to-fixpoint connected
  * chains over an explicit parent-link column.
  *
  * Mirrors the reference's `logical_cases` loop
  * (scratch/other/event-history.R:42-52): field appeals are chained to
  * their parent appeal via `BFDDEC = BFDPDCN` links, repeatedly
  * self-joining until no row advances, so every record ends up labeled
  * with the root of its logical case. Unlike q15's 365-day gap heuristic,
  * this follows ARBITRARY-span links — the real semantics.
  *
  * One strategy, ONE-HOP rounds on [[graft.Checkpoints.fixpoint]]: each
  * round advances every unsettled row [[Chains.HopsPerRound]] single
  * hops by joining it against the STATIC link table — which is
  * repartitioned by id and sorted ONCE, then checkpointed, so its
  * `HashPartitioning(id)` + per-partition order survive into every hop's
  * sort-merge join and the lookup side never shuffles or sorts again.
  * Round cost: one materialization of the unsettled rows, whose plan
  * holds HopsPerRound hops with one small state-side shuffle each; the
  * unsettled-row count that ends the loop is observed on that same
  * materialization, so no round pays a separate count. Only the
  * geometrically shrinking active set crosses the wire; a chain of
  * depth d settles in ceil(d / HopsPerRound) rounds, which suits the bounded depths real link data has ("appeals
  * are remanded under 16 times"). A cycle never settles: the loop fails
  * with the named "did not converge" error after maxIters rounds.
  *
  * Fault tolerance at cluster scale: all per-round materializations go
  * through [[graft.Checkpoints]] — `localCheckpoint` (memory-only, fast)
  * by default, reliable `checkpoint()` into `spark.graft.checkpoint.dir`
  * when that conf is set, which is what a multi-hour 100 TB run wants
  * (executor loss mid-iteration is survivable). Driver-side logic is
  * coordination only, never data.
  */
object Chains {

  /** Hops folded into one plan per materialized round: settled-row
    * extraction happens only at round boundaries, so a round is ONE job
    * of [[HopsPerRound]] pipelined exchange+join+project steps instead of
    * three checkpoint jobs — the per-round scheduler/materialization
    * constant measured at ~0.8 s/hop at sf1 amortizes 3×. */
  val HopsPerRound = 3

  /** Resolve each record's chain root over a (id, parent) link table.
    * `parent` links pointing at ids absent from the table are treated as
    * terminal (the record is its chain's root) — dangling links happen in
    * the reference data when the parent case predates the extract.
    * Output: (id, chain_root, depth); depth = hops from id to root.
    *
    * A row at depth d settles after d hops (its cur reaches the root,
    * whose link row has parent NULL). Dangling links need no pre-pass:
    * the state carries `prev`, the ancestor one hop BELOW cur, and the
    * hop join is a left join — a lookup MISS means cur is a dangling id,
    * so the true root is `prev` (the record holding the dangling link is
    * terminal) and the miss hop un-counts itself from depth. A miss can
    * only happen on the hop that first reaches the dangling id, so the
    * rule is exact at any chain position.
    */
  def resolveChains(linksRaw: DataFrame, maxIters: Int = 20): DataFrame = {
    // state invariant: cur = an ancestor exactly `depth` hops up;
    // settled ⇔ cur is a root
    val p = linksRaw.sparkSession.sessionState.conf.numShufflePartitions
    val lut = Checkpoints.of(
      linksRaw.repartition(p, col("id")).sortWithinPartitions("id"))
    // settled rows inside a round pass the join unchanged (their cur is a
    // real root, present in lut) and leave the loop at the next boundary
    def hop(st: DataFrame, i: Int): DataFrame = {
      val (s, t) = (s"s$i", s"t$i")
      st.as(s).join(lut.as(t), col(s"$s.cur") === col(s"$t.id"), "left")
        .select(
          col(s"$s.id").as("id"),
          when(col(s"$s.settled"), col(s"$s.cur"))
            .when(col(s"$t.id").isNull, col(s"$s.prev"))
            .when(col(s"$t.parent").isNull, col(s"$s.cur"))
            .otherwise(col(s"$t.parent")).as("cur"),
          when(col(s"$s.settled") || col(s"$t.id").isNull, col(s"$s.prev"))
            .when(col(s"$t.parent").isNull, col(s"$s.prev"))
            .otherwise(col(s"$s.cur")).as("prev"),
          when(col(s"$s.settled"), col(s"$s.depth"))
            .when(col(s"$t.id").isNull, col(s"$s.depth") - 1L)
            .when(col(s"$t.parent").isNull, col(s"$s.depth"))
            .otherwise(col(s"$s.depth") + 1L).as("depth"),
          (col(s"$s.settled") || col(s"$t.id").isNull ||
            col(s"$t.parent").isNull).as("settled"))
    }
    val st0 = lut.select(
      col("id"),
      coalesce(col("parent"), col("id")).as("cur"),
      col("id").as("prev"),
      when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("depth"),
      col("parent").isNull.as("settled"))
    // each round advances only the rows its input left unsettled; the
    // settled rows of every round together are the answer
    Checkpoints.fixpoint(st0, !col("settled"), maxIters, "chain resolution") { prev =>
      (0 until HopsPerRound).foldLeft(prev.filter(!col("settled")))(hop)
    }.map(_.filter(col("settled")).select("id", "cur", "depth"))
      .reduce(_ unionByName _)
      .select(col("id"), col("cur").as("chain_root"), col("depth"))
  }

  /** q46: chain resolution over a synthesized parent-link on orders.
    * The link rule is deterministic arithmetic both engines reproduce:
    * every 10th key roots a chain; one key per thousand carries a
    * dangling link (nonexistent parent → root by join-miss, the
    * predates-the-extract case); all others link to the previous key.
    * Oracle: DuckDB WITH RECURSIVE over the same links.
    */
  def q46ChainResolve(spark: SparkSession, dir: String): DataFrame = {
    val linksRaw = Tables.orders(spark, dir).select(
      col("o_orderkey").as("id"),
      when(pmod(col("o_orderkey"), lit(10)) === 0, lit(null).cast("long"))
        // negative sentinel: orderkeys are positive at every SF, so the
        // planted dangling parent can never resolve to a real key
        // (ADVICE r3: a fixed +10M offset collides once keys reach 10M)
        .when(pmod(col("o_orderkey"), lit(1000)) === 555,
          -col("o_orderkey") - 1L)
        .otherwise(col("o_orderkey") - 1L).as("parent"))
    resolveChains(linksRaw)
      .withColumn("chain_size", count(lit(1)).over(Window.partitionBy("chain_root")))
      .select(col("id").as("o_orderkey"), col("chain_root"), col("depth"), col("chain_size"))
      .orderBy("o_orderkey")
  }
}
