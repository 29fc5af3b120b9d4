package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: a closed loop with one client that runs
  * the workload's query keys one at a time, the way an analyst's batch
  * does.
  *
  *   1. set up `--setups` times (fresh session + untimed warm-up pass);
  *      the first setup counts from JVM start, and its pass is the check
  *      pass: every key's result is written to `<out>/check/<key>` for
  *      the caller's oracle compare
  *   2. timed passes in a seeded key order until `--seconds` elapse (the
  *      last pass may stop part-way, at the deadline); a GC sweep runs
  *      between queries, outside the timed region
  *   3. with `--trace 1`: the timed passes also record per-query spans
  *      (build / plan / exec) and the [[Recorder]] listeners run; then
  *      each kernel in `--kernels` is timed alone over `documents.text`
  *
  * Everything is written once, at the end, to `<out>/result.json`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = opt("out")
    // keep Spark's block and shuffle files under the run's own directory
    // (the caller points java.io.tmpdir and SPARK_LOCAL_DIRS there too)
    System.setProperty("spark.local.dir", s"$out/tmp")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val cpus = opt("cpus").toInt
    val data = opt("data")
    val keys = opt("keys").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val setups = opt("setups").toInt
    val kernels = opt.get("kernels").filter(_.nonEmpty).map(_.split(";").toSeq).getOrElse(Nil)
    val fns = keys.map(k => k -> SparkEntry.queries(k))
    // the oracle SQL for this run's keys, for the caller's DuckDB compare
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(keys.flatMap(k =>
      SparkEntry.oracleSql.get(k).map(sql => k -> Json.str(sql))): _*))
    def now(): Double = Recorder.clock()
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def err(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(200)}"
    val heap = ManagementFactory.getMemoryMXBean
    // between queries, outside the timed region: the first GC lets Spark's
    // ContextCleaner see dropped broadcasts, shuffles and checkpoint
    // blocks; the pause lets it remove them; the second GC frees them, so
    // no query pays for its predecessor's cleanup and the heap reading is
    // what the engine really retains
    def sweep(): Double = {
      System.gc(); Thread.sleep(100); System.gc()
      heap.getHeapMemoryUsage.getUsed / 1e6
    }
    def session(): SparkSession = {
      val s = GraftSession.create(cpus)
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // 1. setups. The first one's pass is also the check pass: it writes
    // every key's result to <out>/check/<key> for the caller's oracle
    // compare. Later setups use the noop sink, like the timed passes.
    val setupTimes = ArrayBuffer.empty[Double]
    val warmTimes = ArrayBuffer.empty[(String, Double)]
    val checkErrors = scala.collection.mutable.Map.empty[String, String]
    var spark: SparkSession = null
    (0 until setups).foreach { i =>
      val t0 = if (i == 0) jvmStart else { spark.stop(); now() }
      spark = session()
      warmTimes += "session" -> (now() - t0)
      fns.foreach { case (k, fn) =>
        val tk = now()
        // a key failing a later warm-up pass fails again, and is counted,
        // in the timed passes
        try {
          if (i == 0) fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/check/$k")
          else noop(fn(spark, data))
        } catch { case e: Throwable => if (i == 0) checkErrors(k) = err(e) }
        warmTimes += k -> (now() - tk)
      }
      setupTimes += now() - t0
    }

    // 2. timed passes
    val rec = if (trace) Some(new Recorder(spark)) else None
    val rng = new scala.util.Random(seed)
    val passes = ArrayBuffer.empty[Seq[(String, Double, String)]]
    val heapMb = ArrayBuffer.empty[Double]
    val tStart = now()
    // the first pass always completes; after it, the run stops at the
    // first query that would start past the deadline
    def due = passes.nonEmpty && now() - tStart >= seconds
    while (!due) {
      val pass = ArrayBuffer.empty[(String, Double, String)]
      val order = rng.shuffle(fns).iterator
      while (order.hasNext && !due) {
        val (k, fn) = order.next()
        heapMb += sweep()
        val t0 = now()
        val e = rec match {
          case None => try { noop(fn(spark, data)); "" } catch { case e: Throwable => err(e) }
          case Some(r) => r.query(k) { phase =>
            val df = phase("build") { fn(spark, data) }
            phase("plan") { df.queryExecution.executedPlan }
            phase("exec") { noop(df) }
          }
        }
        pass += ((k, now() - t0, e))
      }
      passes += pass.toSeq
    }

    // 3. kernel spans
    val kernelSpans = ArrayBuffer.empty[(String, Double)]
    rec.foreach { r =>
      graft.functions.GraftFunctions.register(spark)
      val docs = spark.read.parquet(s"$data/documents.parquet").select("text")
        .repartition(cpus).cache()
      docs.count()
      kernels.foreach { k =>
        val name = k.takeWhile(_ != '(')
        val times = (0 until 3).map { _ =>
          sweep()
          r.query(s"functions.$name") { phase =>
            phase("exec") { noop(docs.selectExpr(s"$k AS k")) }
          }
          r.lastQuerySeconds
        }
        kernelSpans += name -> times.sorted.apply(1)
      }
      docs.unpersist(blocking = true)
    }

    val J = Json
    val res = J.obj(
      "setup_s" -> J.arr(setupTimes.map(J.num)),
      "warm_s" -> J.arr(warmTimes.map { case (k, t) => J.obj("key" -> J.str(k), "s" -> J.num(t)) }),
      "check_errors" -> J.obj(checkErrors.toSeq.map { case (k, v) => k -> J.str(v) }: _*),
      "passes" -> J.arr(passes.map(p => J.arr(p.map { case (k, t, e) =>
        J.obj("key" -> J.str(k), "s" -> J.num(t), "error" -> J.str(e)) }))),
      "heap_mb" -> J.arr(heapMb.map(J.num)),
      "cpus" -> J.num(spark.sparkContext.defaultParallelism),
      "kernels" -> J.obj(kernelSpans.toSeq.map { case (k, t) => k -> J.num(t) }: _*),
      "trace" -> rec.map(_.dump()).getOrElse("null"))
    Files.writeString(Paths.get(out, "result.json"), res)
    spark.stop()
    sys.exit(0)
  }
}

/** Minimal JSON writer for the result file (values are pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
