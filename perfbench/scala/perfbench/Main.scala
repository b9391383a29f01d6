package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> [prepSeconds]`.
  * Writes `<runDir>/result.json` (metrics, check failures, run facts)
  * and, traced, `<runDir>/spans.json`. perfbench/run.py launches it and
  * prints the final result line. */
object Main {

  /** What one run reports. End-to-end metrics go out untraced, layer
    * metrics traced; `facts` are context written to the artifact only. */
  final class Report {
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Record one operation's outcome; a false `ok` counts it failed. */
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    }
    /** A correctness check on the run as a whole. */
    def check(ok: Boolean, what: => String): Unit =
      if (!ok && failures.size < 20) failures += what
    def fact(k: String, v: Any): Unit = facts(k) = Json.value(v)

    /** The end-to-end metrics every workload reports, from its
      * operation times, its work rate and its store's size per item. */
    def endToEnd(opMs: Seq[Double], workPerS: Double, bytesPerItem: Double): Unit = {
      val (tail, pct) = Stats.tail(opMs)
      e2e("op_p50_ms") = (Stats.median(opMs), "ms")
      e2e("op_tail_ms") = (tail, "ms")
      e2e("work_per_s") = (workPerS, "1/s")
      e2e("store_bytes_per_item") = (bytesPerItem, "B")
      fact("op_samples", opMs.size)
      fact("op_tail_percentile", pct)
      if (opMs.size <= 20) fact("op_ms", opMs.map(m => f"$m%.1f").mkString(" "))
    }
  }

  /** Everything a workload needs from the run. */
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                       traced: Boolean, dir: String, tracer: Tracer, report: Report)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dir) = args.take(5)
    val prepS = args.lift(5).map(_.toDouble).getOrElse(0.0)
    val cpus = Runtime.getRuntime.availableProcessors
    val report = new Report
    val traced = traceS == "1"
    val tracer = new Tracer(traced)
    val (steal0, total0) = Host.stealTicks()
    val load0 = Host.loadavg()
    val canary = Host.canaryMs()

    val t0 = System.nanoTime()
    val spark = session(workload, cpus, dir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, traced, dir, tracer, report)
    val gc0 = Host.gcMs()
    val setupS = try workload match {
      case "import" => ImportWorkload.run(ctx)
      case "serve" => ServeWorkload.run(ctx)
      case "batch_probe" => BatchWorkload.run(ctx)
      case "stream_stores" => StreamWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val (steal1, total1) = Host.stealTicks()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0

    report.e2e("setup_s") = (sessionS + prepS + setupS, "s")
    report.layer("jvm.peak_rss_mb") = (Host.peakRssMb(), "MB")
    report.layer("jvm.gc_ms") = ((Host.gcMs() - gc0).toDouble, "ms")
    report.layer("host.steal_pct") = (stealPct, "%")
    report.layer("host.loadavg") = (load0, "1")
    report.layer("host.canary_ms") = (canary, "ms")
    report.fact("session_s", sessionS)
    report.fact("cpus", cpus)
    write(s"$dir/result.json", Json.result(report))
    if (traced) {
      write(s"$dir/spans.json", tracer.toJson)
      tracer.selfMedianMs.toSeq.sortBy(_._1).foreach { case (n, ms) =>
        report.layer(s"span.$n.self_ms") = (ms, "ms")
      }
      write(s"$dir/result.json", Json.result(report))
    }
  }

  /** The session each use builds in the program: `App`'s posture for
    * the chess workloads, `Bench`'s (`GraftSession.tune`) for the
    * streaming pipelines. Scratch, spill and warehouse dirs stay inside
    * the run dir. */
  private def session(workload: String, cpus: Int, dir: String): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop-tmp")
    val b =
      if (workload == "stream_stores")
        graft.GraftSession.tune(b0.config("spark.cleaner.periodicGC.interval", "30s"))
      else b0
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))

  /** Bytes and files under a directory tree. */
  def du(path: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (f.length, 1L)
      else Option(f.listFiles).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    walk(new java.io.File(path))
  }

  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  private def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")

  def result(r: Main.Report): String =
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""failures":${r.failures.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(r.e2e)},"layer":${metrics(r.layer)},""" +
      s""""facts":${r.facts.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")}}"""
}
