package perfbench

import Main.{Ctx, du, secondsSince}

/** `stream_stores`: mergeable-store streaming pipelines, each run once
  * in fixed order over generated `documents`/`events` tables in
  * `<runDir>/sf` (small copies for the warm-up in `<runDir>/sf-warm`). Each pipeline's answer is written to
  * `<runDir>/out/<query>` with its oracle SQL in
  * `<runDir>/out/oracle_sql.json`; perfbench/oracle.py compares them.
  *
  * Four of the ten store pipelines run: each costs ~3.5 s of
  * micro-batch fixed cost whatever the data size, and all ten (~40 s)
  * would not fit the run budget. The four cover both input tables and
  * four different store objects (count-min, HLL, daily counts, k-min
  * values). */
object StreamWorkload {
  val Pipelines = Seq("q140_stream_heavy", "q146_stream_hll", "q167_stream_cusum",
    "q217_stream_kmv")
  /** Which generated table each pipeline streams. */
  val OnDocuments = Set("q140_stream_heavy", "q146_stream_hll", "q217_stream_kmv")

  private val StoreDir = "^graft-(q\\d+)-store.*".r

  /** Bytes and files of each pipeline's store under the JVM temp dir. */
  private def stores(): Map[String, (Long, Long)] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles).toSeq.flatten.collect {
      case f if f.isDirectory && StoreDir.findFirstIn(f.getName).nonEmpty =>
        val StoreDir(q) = f.getName
        q -> du(f.getPath)
    }.groupBy(_._1).map { case (q, xs) => q -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum) }
  }

  def run(c: Ctx): Double = {
    val spark = c.spark
    val sf = s"${c.dir}/sf"
    val out = s"${c.dir}/out"
    val queries = graft.SparkEntry.streamingQueries
    val oracle = graft.SparkEntry.oracleSql
    val docs = graft.Tables.documents(spark, sf).count()
    val events = graft.Tables.events(spark, sf).count()
    c.report.fact("documents_rows", docs)
    c.report.fact("events_rows", events)

    def once(q: String, traced: Boolean)
        : (Double, Map[String, Long], StreamCounters, org.apache.spark.sql.DataFrame) = {
      // the same between-query reaping Bench does before each query
      System.gc()
      graft.streaming.StateStoreReaper.unloadAll()
      val sc = new StreamCounters
      if (traced) spark.streams.addListener(sc)
      val t = System.nanoTime()
      def body() = { val df = queries(q)(spark, sf); df.count(); df }
      val (df, k) =
        if (!traced) (body(), Map.empty[String, Long])
        else c.tracer.span("pipeline", request = Pipelines.indexOf(q).toLong)(_ =>
          Listen.counted(spark)(body()))
      val s = secondsSince(t)
      if (traced) {
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        spark.streams.removeListener(sc)
      }
      (s, k, sc, df)
    }

    // one pipeline over small tables first, so timing starts with the
    // streaming path loaded and compiled
    val tw = System.nanoTime()
    queries(Pipelines.head)(spark, s"${c.dir}/sf-warm").count()
    val warmS = secondsSince(tw)
    c.report.fact("warm_up_s", warmS)

    val runs = Pipelines.map { q =>
      val r = try Some(once(q, c.traced)) catch {
        case e: Exception =>
          c.report.op(ok = false, s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      r.foreach { case (_, _, _, df) =>
        c.report.attempted += 1
        df.write.mode("overwrite").parquet(s"$out/$q")
      }
      q -> r
    }.collect { case (q, Some(r)) => q -> r }
    val sql = Pipelines.map(q => s"${Json.str(q)}:${Json.str(oracle(q))}").mkString("{", ",", "}")
    Main.write(s"$out/oracle_sql.json", sql)

    val secs = runs.map(_._2._1)
    val totalS = secs.sum
    val inputRows = Pipelines.map(q => if (OnDocuments(q)) docs else events).sum
    val stored = stores()
    c.report.endToEnd(secs.map(_ * 1000), runs.size / totalS,
      stored.values.map(_._1).sum.toDouble / inputRows)
    c.report.fact("stream_stores_s", totalS)

    if (c.traced) {
      val r = c.report
      def l(k: String, v: Double, u: String): Unit = r.layer(k) = (v, u)
      def ks(name: String): Double = runs.map(_._2._2.getOrElse(name, 0L)).sum.toDouble
      def phase(name: String): Double =
        runs.map(_._2._3.phaseMs.getOrElse(name, 0L)).sum.toDouble
      runs.foreach { case (q, (s, _, _, _)) => l(s"stream.$q.s", s, "s") }
      l("stream.batches", runs.map(_._2._3.batches).sum.toDouble, "count")
      l("stream.planning_ms", phase("queryPlanning"), "ms")
      l("stream.wal_commit_ms", phase("walCommit"), "ms")
      l("stream.add_batch_ms", phase("addBatch"), "ms")
      l("stream.commit_offsets_ms", phase("commitOffsets"), "ms")
      l("stream.latest_offset_ms", phase("latestOffset"), "ms")
      l("stream.jobs", ks("jobs"), "count")
      l("stream.tasks", ks("tasks"), "count")
      l("stream.shuffle_bytes", ks("shuffle_write_bytes"), "B")
      l("stream.executor_cpu_ms", ks("cpu_ns") / 1e6, "ms")
      l("stream.store_files_written", stored.values.map(_._2).sum.toDouble, "count")
      // tracing overhead: the first pipeline four more times, untraced,
      // traced, traced, untraced, so warming and drift cancel
      val abba = Seq(false, true, true, false).map(t => t -> once(Pipelines.head, t)._1)
      val plain = abba.filter(!_._1).map(_._2).sum
      val withTrace = abba.filter(_._1).map(_._2).sum
      c.report.fact("overhead_abba_s", abba.map(x => f"${x._2}%.3f").mkString(" "))
      l("trace.overhead_pct", 100.0 * (withTrace / plain - 1), "%")
    }
    warmS
  }
}
