package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // see GraftSession: graft's imperative agg buffers are small, so
      // hash far past Spark's 128-group default before sort-fallback
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated key filter for single-query iteration;
    // the driver never sets it, so driver runs always cover everything.
    // Empty/unknown keys fail fast instead of benching nothing (ADVICE r4).
    val queries = SparkEntry.resolveOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    // min of two timed passes per query: single-run numbers carry
    // multi-second GC noise at this heap size. A query that THROWS is
    // recorded as a failure (-1 + errors entry), never as the wall time
    // of the failure path — a broken query must not look fast (r2 #5).
    //
    // Between queries (OUTSIDE the timed region) the JVM is swept:
    // localCheckpoint block RDDs (d26/d31/d34's lineage truncation) and
    // broadcast variables are only reclaimed by the ContextCleaner after
    // ordinary GC notices them, and across 100+ queries in ONE JVM the
    // backlog inflated later rows up to 8× vs a fresh-JVM run of the
    // same query (r8: d24 measured 39.9 s in the full sweep, 4.8 s
    // isolated — same commit, same corpus). An explicit gc per query
    // keeps the sweep's steady state honest at ~100 ms/query of
    // untimed cost.
    def sweep(): Unit = { System.gc(); Thread.sleep(50) }
    // noop sink — FULL evaluation of every output column. count() would
    // let Catalyst prune operators that cannot change the row count
    // (windows, projections), while the DuckDB baseline always computes
    // the full SELECT.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup pass: JIT + codegen caches + file listing, so measured times
    // reflect steady-state execution rather than first-query JVM warmup.
    // Uses the SAME evaluation shape as the timed passes so the warmed
    // codegen classes are the ones the measurement runs.
    queries.foreach { case (_, fn) =>
      try { run(fn(spark, sfDir)) } catch { case _: Throwable => () }
    }
    def pass(): Map[String, Either[String, Double]] =
      queries.map { case (name, fn) =>
        sweep()
        val t0 = System.nanoTime()
        val r = try { run(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        name -> r
      }
    val p1 = pass(); val p2 = pass()
    val results = p1.map { case (k, v) =>
      k -> ((v, p2(k)) match {
        case (Right(a), Right(b)) => Right(math.min(a, b))
        case (Left(e), _) => Left(e)
        case (_, Left(e)) => Left(e)
      })
    }
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    def jnum(t: Double): String = BigDecimal(t)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
    def qmap(rs: Seq[(String, Either[String, Double])]): String =
      rs.map { case (k, v) => jstr(k) + ":" + v.fold(_ => "-1", jnum) }
        .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val total = results.values.collect { case Right(t) => t }.sum
    def render(qs: String, extra: String): String =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs$extra,"errors":$errs,"sf":"$sfDir"}"""
    val full = render(qmap(results.toSeq.sortBy(_._1)), "")
    // persist the FULL per-query map to a file (the Verify pattern): the
    // driver keeps only a bounded stdout TAIL (2000 chars), and with 100+
    // queries the full JSON line cannot fit — r6/r7 records were truncated
    // mid-JSON and recorded parsed:null. The file is never lossy.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // stdout: the same JSON shape, but with `queries` trimmed to the
    // slowest rows that fit a ~1700-char line so the driver's bounded
    // tail always contains one complete parseable JSON object (headline
    // total + every row anyone grades individually); `queries_full`
    // points at the lossless file copy.
    val byTime = results.toSeq.sortBy {
      case (_, Right(t)) => -t
      case (_, Left(_))  => Double.NegativeInfinity // errors always shown
    }
    val budget = 1550
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, Double])]
    var used = 0
    byTime.foreach { case kv @ (k, v) =>
      val w = k.length + 4 + v.fold(_ => 2, jnum(_).length)
      if (used + w <= budget) { kept += kv; used += w }
    }
    val omitted = results.size - kept.size
    val stdoutJson =
      if (omitted == 0) full
      else render(qmap(kept.sortBy(_._1).toSeq),
        s""","queries_omitted":$omitted,"queries_full":${jstr(out)}""")
    println(stdoutJson)
    spark.stop()
  }
}
