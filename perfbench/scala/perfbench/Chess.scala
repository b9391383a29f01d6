package perfbench

import graft.chess.{ChessIngest, ChessServer, PgnSource, Position, QueryEngine}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import Main.{Ctx, du, rmTree, secondsSince}

/** Corpus and store steps shared by the chess workloads. */
object Chess {
  /** The serve workload's store corpus: ~320k position occurrences,
    * ~2.5 MB of PGN over 8 files (6 imported as epoch 0, 2 appended). */
  val Games = 4000
  /** The import workload's corpus: half as large, so one import takes
    * ~1.5 s on 4 cores and a 10 s run times several. */
  val ImportGames = 2000
  val Files = 8
  /** Generator runs per set-up; their median is the set-up time. */
  val SetupReps = 3

  /** `App create` of the corpus's first ¾ as epoch 0, then `App append`
    * of the rest as epoch 1, writing the layout `App` writes. */
  def importStore(spark: SparkSession, corpus: Gen.Corpus, store: String): Unit = {
    ChessIngest.positionsAgg(ChessIngest.positionStream(spark,
        PgnSource.readGames(spark, corpus.createDir)))
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy("epoch").parquet(store)
    val nextEpoch = spark.read.parquet(store)
      .agg(max(col("epoch").cast("long"))).head().getLong(0) + 1L
    ChessIngest.positionsAgg(ChessIngest.positionStream(spark,
        PgnSource.readGames(spark, corpus.appendDir)))
      .withColumn("epoch", lit(nextEpoch))
      .write.mode("append").partitionBy("epoch").parquet(store)
  }

  /** (Σ games, Σ games of rows entered at game start) of a store. */
  def storeSums(spark: SparkSession, store: String): (Long, Long) = {
    val r = spark.read.parquet(store)
      .agg(sum(col("games")), sum(when(col("reverseMove") === 0, col("games")).otherwise(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Generate the corpus `SetupReps` times; returns the last corpus and
    * the median generation time. Every repetition must write the same
    * bytes. */
  def corpus(c: Ctx, games: Int): (Gen.Corpus, Double) = {
    val runs = (0 until SetupReps).map { k =>
      val dir = s"${c.dir}/pgn$k"
      val t = System.nanoTime()
      val corpus = Gen.writeCorpus(dir, c.seed, games, Files)
      val s = secondsSince(t)
      if (k < SetupReps - 1) rmTree(dir)
      (corpus, s)
    }
    c.report.check(runs.map(_._1.sha256).distinct.size == 1,
      "corpus generation is not deterministic")
    val corpus = runs.last._1
    c.report.fact("corpus_games", corpus.games.length)
    c.report.fact("corpus_valid_games", corpus.validGames)
    c.report.fact("corpus_malformed", corpus.malformed)
    c.report.fact("corpus_positions", corpus.validPositions)
    c.report.fact("corpus_bytes", corpus.bytes)
    c.report.fact("corpus_sha256", corpus.sha256)
    c.report.fact("generate_s", Stats.median(runs.map(_._2)))
    (corpus, Stats.median(runs.map(_._2)))
  }

  /** Set-up for the read workloads: corpus and the two-epoch store.
    * Returns (corpus, store, set-up seconds). */
  def storeSetup(c: Ctx): (Gen.Corpus, String, Double) = {
    val (cor, genS) = corpus(c, Games)
    val t = System.nanoTime()
    val store = s"${c.dir}/store"
    importStore(c.spark, cor, store)
    val storeS = secondsSince(t)
    c.report.fact("store_build_s", storeS)
    val (games, _) = storeSums(c.spark, store)
    c.report.check(games == cor.validPositions,
      s"store holds $games position occurrences, generator made ${cor.validPositions}")
    (cor, store, genS + storeS)
  }
}

/** `import`: PGN files to a committed two-epoch store, repeated until
  * the run's time is up. */
object ImportWorkload {
  val WarmUps = 6

  def run(c: Ctx): Double = {
    val (corpus, genS) = Chess.corpus(c, Chess.ImportGames)
    // untimed imports first, so timing starts warm: after two, imports
    // still sped up by ~30% at an unpredictable later one
    val tw = System.nanoTime()
    for (_ <- 0 until WarmUps) {
      Chess.importStore(c.spark, corpus, s"${c.dir}/store-warm")
      rmTree(s"${c.dir}/store-warm")
    }
    c.report.fact("warm_up_s", secondsSince(tw))
    val setupS = genS + secondsSince(tw)
    val spark = c.spark
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var bytes = 0L
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    while (times.isEmpty || System.nanoTime() + times.last * 1e6 < deadline) {
      val store = s"${c.dir}/store${times.size}"
      val t = System.nanoTime()
      Chess.importStore(spark, corpus, store)
      times += secondsSince(t) * 1000
      val (games, starts) = Chess.storeSums(spark, store)
      c.report.op(games == corpus.validPositions && starts == corpus.validGames,
        s"import ${times.size}: store Σgames=$games (want ${corpus.validPositions}), " +
          s"start-position games=$starts (want ${corpus.validGames})")
      bytes = du(store)._1
      rmTree(store)
    }
    val chunks = PgnSource.readGameChunks(spark, corpus.createDir).count() +
      PgnSource.readGameChunks(spark, corpus.appendDir).count()
    val parsed = PgnSource.readGames(spark, corpus.createDir).count() +
      PgnSource.readGames(spark, corpus.appendDir).count()
    c.report.check(chunks == corpus.games.length,
      s"read $chunks game chunks, generator wrote ${corpus.games.length}")
    c.report.check(chunks - parsed == corpus.malformed,
      s"skipped ${chunks - parsed} games, generator injected ${corpus.malformed} malformed")
    c.report.endToEnd(times.toSeq, corpus.validPositions / (Stats.median(times.toSeq) / 1000),
      bytes.toDouble / corpus.validPositions)
    if (c.traced) traced(c, corpus, chunks - parsed, Stats.median(times.toSeq))
    setupS
  }

  /** The same import with every layer boundary materialised (cached and
    * counted) on its own, so each layer's time and work is separate. */
  private def traced(c: Ctx, corpus: Gen.Corpus, skipped: Long, untracedMs: Double): Unit = {
    val spark = c.spark
    val tr = c.tracer
    val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
    val store = s"${c.dir}/store-traced"
    val t = System.nanoTime()
    tr.span("import") { root =>
      for ((src, epoch) <- Seq(corpus.createDir -> 0L, corpus.appendDir -> 1L)) {
        val ((games, nGames), _) = timed(c, "parse", root, add) {
          val g = PgnSource.readGames(spark, src).cache(); (g, g.count())
        }
        add("parse.games", nGames)
        val ((occ, nOcc), _) = timed(c, "replay", root, add) {
          val o = ChessIngest.positionStream(spark, games).cache(); (o, o.count())
        }
        add("replay.positions", nOcc)
        val ((agg, nAgg), k) = timed(c, "agg", root, add) {
          val a = ChessIngest.positionsAgg(occ).cache(); (a, a.count())
        }
        add("agg.entries", nAgg)
        add("agg.shuffle_write_bytes", k("shuffle_write_bytes"))
        add("agg.spill_bytes", k("spill_bytes"))
        add("agg.tasks", k("tasks"))
        timed(c, "write", root, add) {
          agg.withColumn("epoch", lit(epoch))
            .write.mode(if (epoch == 0) "overwrite" else "append")
            .partitionBy("epoch").parquet(store)
        }
        val (b, f) = du(s"$store/epoch=$epoch")
        add("write.bytes", b); add("write.files", f)
        agg.unpersist(); occ.unpersist(); games.unpersist()
      }
    }
    val tracedMs = secondsSince(t) * 1000
    rmTree(store)
    val r = c.report
    def l(k: String, v: Double, u: String): Unit = r.layer(k) = (v, u)
    l("parse.s", sums("parse.s"), "s")
    l("parse.games", sums("parse.games"), "count")
    l("parse.skipped", skipped.toDouble, "count")
    l("parse.games_per_s", sums("parse.games") / sums("parse.s"), "1/s")
    l("replay.s", sums("replay.s"), "s")
    l("replay.positions", sums("replay.positions"), "count")
    l("replay.positions_per_s", sums("replay.positions") / sums("replay.s"), "1/s")
    l("agg.s", sums("agg.s"), "s")
    l("agg.entries", sums("agg.entries"), "count")
    l("agg.entries_per_position", sums("agg.entries") / sums("replay.positions"), "1")
    l("agg.shuffle_write_bytes", sums("agg.shuffle_write_bytes"), "B")
    l("agg.spill_bytes", sums("agg.spill_bytes"), "B")
    l("agg.tasks", sums("agg.tasks"), "count")
    l("write.s", sums("write.s"), "s")
    l("write.bytes", sums("write.bytes"), "B")
    l("write.files", sums("write.files"), "count")
    l("write.bytes_per_entry", sums("write.bytes") / sums("agg.entries"), "B")
    l("trace.overhead_pct", 100.0 * (tracedMs / untracedMs - 1), "%")
  }

  /** Run one layer under a span and counters; adds `<layer>.s`. */
  private def timed[T](c: Ctx, layer: String, parent: Int,
                       add: (String, Double) => Unit)(body: => T): (T, Map[String, Long]) = {
    val t = System.nanoTime()
    val out = c.tracer.span(layer, parent)(_ => Listen.counted(c.spark)(body))
    add(s"$layer.s", secondsSince(t))
    out
  }
}

/** `serve`: a closed loop of 2 TCP connections against
  * `ChessServer.serveOn` over the uncached two-epoch store. */
object ServeWorkload {
  val Connections = 2
  val Requests = 4000
  /** Probe positions come from the first plies of the corpus games. */
  val PoolPlies = 12
  val PoolZipfS = 1.1
  val AbsentShare = 0.05

  final case class Req(line: String, key: String, kind: String, fen: String,
                       absent: Boolean)

  def requests(pool: Array[(String, Long)], seed: Long, n: Int): Array[Req] = {
    val rng = new Gen.Rng(seed * 31 + 7)
    val zipf = new Gen.Zipf(pool.length, PoolZipfS)
    Array.tabulate(n) { i =>
      val absent = rng.nextDouble() < AbsentShare
      var fen = pool(zipf.draw(rng))._1
      if (absent) {
        var v = Gen.absentVariant(fen, rng)
        while (v.isEmpty) v = Gen.absentVariant(pool(zipf.draw(rng))._1, rng)
        fen = v.get
      }
      val u = rng.nextDouble()
      val legal = Position.fromFen(fen).legalMoves()
      val (kind, body) =
        if (u < 0.8 || (u < 0.9 && legal.isEmpty))
          ("explore", s"""{"positions":[{"fen":"$fen"}],"fetchChildren":true}""")
        else if (u < 0.9) {
          val m = graft.chess.Core.moveToUci(legal(rng.nextInt(legal.length)))
          ("move", s"""{"positions":[{"fen":"$fen","move":"$m"}],"fetchChildren":true}""")
        } else ("retract", s"""{"fen":"$fen"}""")
      val field = if (kind == "retract") "retractions" else "query"
      Req(s"""{"token":"r$i","$field":$body}""", s"$field:$body", kind, fen, absent)
    }
  }

  final case class Sample(idx: Int, ms: Double, response: String)

  /** Closed loop: each connection sends its next request when the last
    * answer arrives, until `seconds` pass. Connection k sends requests
    * k, k + Connections, ... of `reqs`. */
  def loop(c: Ctx, port: Int, reqs: Array[Req], seconds: Double, first: Int,
           spanned: Boolean): Seq[Sample] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Array.fill(Connections)(scala.collection.mutable.ArrayBuffer.empty[Sample])
    val threads = (0 until Connections).map { k =>
      val t = new Thread(() => {
        val sock = new java.net.Socket("127.0.0.1", port)
        try {
          val w = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
          val rd = new java.io.BufferedReader(
            new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
          var i = first + k
          while (System.nanoTime() < deadline) {
            val idx = i % reqs.length
            val t0 = System.nanoTime()
            val resp =
              if (!spanned) { w.println(reqs(idx).line); rd.readLine() }
              else c.tracer.span("client.request", request = idx.toLong) { _ =>
                w.println(reqs(idx).line); rd.readLine()
              }
            out(k) += Sample(idx, (System.nanoTime() - t0) / 1e6, resp)
            i += Connections
          }
        } finally sock.close()
      })
      t.start(); t
    }
    threads.foreach(_.join())
    out.toSeq.flatten
  }

  /** Response checks: it parses, carries its token and no error, and a
    * start-position explorer answer matches the generator's tally. */
  def checkResponse(req: Req, idx: Int, resp: String,
                    startTally: Option[Map[String, Long]]): Option[String] = {
    implicit val fmts: Formats = DefaultFormats
    if (resp == null) return Some(s"request $idx: no response")
    val j = try JsonMethods.parse(resp) catch { case _: Exception => return Some(s"request $idx: unparsable") }
    if ((j \ "error") != JNothing) return Some(s"request $idx: error ${j \ "error"}")
    if ((j \ "token") != JString(s"r$idx")) return Some(s"request $idx: token ${j \ "token"}")
    if (req.kind == "explore" && req.fen == Position.StartFen) {
      val tally = startTally.get
      def total(v: JValue): Long = v match {
        case JObject(fs) => fs.map {
          case ("count", JInt(n)) => n.toLong
          case ("count", JLong(n)) => n
          case (_, x) => total(x)
        }.sum
        case _ => 0L
      }
      val res = (j \ "results")(0)
      val root = total(res \ "stats")
      if (root != tally("")) return Some(s"request $idx: start position count $root, tally ${tally("")}")
      val children = (res \ "children") match {
        case JObject(fs) => fs.map { case (uci, v) => uci -> total(v) }.toMap
        case _ => Map.empty[String, Long]
      }
      val want = tally.filter { case (k, n) => k.nonEmpty && n > 0 }
      if (children != want) return Some(s"request $idx: start children $children, tally $want")
    }
    None
  }

  /** Generator tally around the start position: "" → its occurrences,
    * uci → occurrences of the child that move leads to. */
  def startTally(corpus: Gen.Corpus): Map[String, Long] = {
    val start = Position.initial
    val kids = start.legalMoves().map(m =>
      graft.chess.Core.moveToUci(m) -> Gen.fenKey(start.make(m).toFen)).toMap
    val startKey = Gen.fenKey(Position.StartFen)
    val t = Gen.tally(corpus.games, kids.values.toSet + startKey)
    def n(k: String): Long = t.get(k).map(_.values.sum).getOrElse(0L)
    kids.map { case (uci, k) => uci -> n(k) } + ("" -> n(startKey))
  }

  def run(c: Ctx): Double = {
    val spark = c.spark
    val (corpus, storeDir, storeS) = Chess.storeSetup(c)
    val t = System.nanoTime()
    val pool = Gen.openingPool(corpus.games, PoolPlies)
    val reqs = requests(pool, c.seed, Requests)
    val tally = Some(startTally(corpus))
    val store = spark.read.parquet(storeDir)
    val server = new java.net.ServerSocket(0)
    val serverThread = new Thread(() => ChessServer.serveOn(spark, store, server))
    serverThread.start()
    // warm the request path (first plans, codegen) before timing
    loop(c, server.getLocalPort, reqs, 1.5, Requests / 2, spanned = false)
    c.report.fact("requests_and_warm_up_s", secondsSince(t))
    val setupS = storeS + secondsSince(t)

    // traced, the window splits in four: untraced, traced, traced,
    // untraced, so warming and drift cancel in the overhead estimate
    val measureS = if (c.traced) c.seconds / 4 else c.seconds
    val t0 = System.nanoTime()
    val samples = loop(c, server.getLocalPort, reqs, measureS, 0, spanned = false)
    val wallS = secondsSince(t0)
    samples.foreach { s =>
      val err = checkResponse(reqs(s.idx), s.idx, s.response, tally)
      c.report.op(err.isEmpty, err.getOrElse(""))
    }
    val stored = du(storeDir)._1
    val ms = samples.map(_.ms)
    c.report.endToEnd(ms, samples.size / wallS, stored.toDouble / corpus.validPositions)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    samples.filter(_.idx < 32).sortBy(_.idx).foreach(s => digest.update(s.response.getBytes("UTF-8")))
    c.report.fact("digest_first_32_responses", digest.digest().map("%02x".format(_)).mkString)
    c.report.fact("start_position_requests",
      samples.count(s => reqs(s.idx).kind == "explore" && reqs(s.idx).fen == Position.StartFen))

    if (c.traced) traced(c, store, reqs, samples, server.getLocalPort, tally)
    server.close()
    serverThread.join(120000)
    setupS
  }

  private def traced(c: Ctx, store: DataFrame, reqs: Array[Req], first: Seq[Sample],
                     port: Int, tally: Option[Map[String, Long]]): Unit = {
    val spark = c.spark
    val r = c.report
    def l(k: String, v: Double, u: String): Unit = r.layer(k) = (v, u)
    var next = first.size + 1
    def window(spanned: Boolean): Seq[Sample] = {
      val s = loop(c, port, reqs, c.seconds / 4, next, spanned)
      s.foreach { x =>
        val err = checkResponse(reqs(x.idx), x.idx, x.response, tally)
        r.op(err.isEmpty, err.getOrElse(""))
      }
      next += s.size + 1
      s
    }
    // the same loop with client spans and Spark counters attached
    val (b1, k1) = Listen.counted(spark)(window(spanned = true))
    val (b2, k2) = Listen.counted(spark)(window(spanned = true))
    val untraced = first ++ window(spanned = false)
    val samples = b1 ++ b2
    val k = k1.map { case (name, v) => name -> (v + k2(name)) }
    val n = samples.size.toDouble
    // each layer of a request on its own, in process, over the first
    // requests of the list
    val parseMs, keysMs, keysN, exploreMs, rowsOut, handleMs, renderMs, scanned =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val tr = c.tracer
    for (i <- 0 until 40) {
      val q = reqs(i)
      tr.span("server.request", request = i.toLong) { root =>
        val t0 = System.nanoTime()
        val probes = tr.span("server.parse", root, i.toLong) { _ =>
          val j = JsonMethods.parse(q.line)
          if (q.kind == "retract") Nil
          else ChessServer.parseRequest(j).positions.map(p => p.fen -> p.move)
        }
        val t1 = System.nanoTime()
        val keys = tr.span("probe_keys", root, i.toLong) { _ => QueryEngine.probeKeys(probes) }
        val t2 = System.nanoTime()
        val (rows, kc) = tr.span("explore", root, i.toLong) { _ =>
          Listen.counted(spark) {
            if (q.kind == "retract") QueryEngine.retractions(spark, store, q.fen).collect().length
            else QueryEngine.explore(spark, store, probes).collect().length
          }
        }
        val t3 = System.nanoTime()
        tr.span("server.handle", root, i.toLong) { _ => ChessServer.handle(spark, store, q.line) }
        val t4 = System.nanoTime()
        parseMs += (t1 - t0) / 1e6
        if (q.kind != "retract") { keysMs += (t2 - t1) / 1e6; keysN += keys.size }
        exploreMs += (t3 - t2) / 1e6
        rowsOut += rows
        scanned += kc("input_records")
        handleMs += (t4 - t3) / 1e6
        renderMs += math.max(0.0, (t4 - t3) / 1e6 - (t3 - t0) / 1e6)
      }
    }
    val seen = scala.collection.mutable.HashSet.empty[String]
    val all = untraced ++ samples
    val repeats = all.count(s => !seen.add(reqs(s.idx).key))
    l("probe_keys.ms", Stats.median(keysMs.toSeq), "ms")
    l("probe_keys.keys_per_request", Stats.median(keysN.toSeq), "count")
    l("explore.ms", Stats.median(exploreMs.toSeq), "ms")
    l("explore.jobs_per_request", k("jobs") / n, "count")
    l("explore.tasks_per_request", k("tasks") / n, "count")
    l("explore.rows_scanned_per_request", k("input_records") / n, "count")
    l("explore.rows_returned_per_request", rowsOut.sum / rowsOut.size, "count")
    l("explore.scan_per_result", scanned.sum / math.max(1.0, rowsOut.sum), "1")
    l("server.parse_ms", Stats.median(parseMs.toSeq), "ms")
    l("server.render_ms", Stats.median(renderMs.toSeq), "ms")
    l("server.wait_ms", Stats.median(untraced.map(_.ms)) - Stats.median(handleMs.toSeq), "ms")
    l("server.repeat_share", repeats.toDouble / all.size, "1")
    l("server.miss_share", all.count(s => reqs(s.idx).absent).toDouble / all.size, "1")
    l("trace.overhead_pct",
      100.0 * (Stats.median(samples.map(_.ms)) / Stats.median(untraced.map(_.ms)) - 1), "%")
  }
}

/** `batch_probe`: one `QueryEngine.exploreBatch` job over many distinct
  * positions (corpus positions from all plies plus absent ones) against
  * the same uncached store the server reads, repeated until the run's
  * time is up. */
object BatchWorkload {
  val WarmUps = 8
  val Probes = 20000
  val AbsentShare = 0.1
  val Sample = 16

  /** Distinct corpus positions from random plies of every valid game,
    * then absent variants; the first `Sample` mix both kinds. */
  def probes(corpus: Gen.Corpus, seed: Long): Array[String] = {
    val rng = new Gen.Rng(seed * 17 + 3)
    val nAbsent = (Probes * AbsentShare).toInt
    val valid = corpus.games.filter(_.valid)
    val perGame = (Probes - nAbsent) / valid.length + 2
    val seen = scala.collection.mutable.HashSet.empty[String]
    val present = scala.collection.mutable.ArrayBuffer.empty[String]
    for (g <- valid) {
      val plies = Array.fill(perGame)(rng.nextInt(g.moves.length + 1)).sorted
      var pos = Position.initial
      var ply = 0
      for (p <- plies) {
        while (ply < p) { pos = pos.make(g.moves(ply)); ply += 1 }
        val fen = pos.toFen
        if (seen.add(Gen.fenKey(fen))) present += fen
      }
    }
    val shuffled = present.toArray
    var i = shuffled.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val x = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = x
      i -= 1
    }
    val kept = shuffled.take(Probes - nAbsent)
    val absent = Iterator.continually(kept(rng.nextInt(kept.length)))
      .flatMap(f => Gen.absentVariant(f, rng)).distinct.take(nAbsent).toArray
    absent.take(Sample / 4) ++ kept ++ absent.drop(Sample / 4)
  }

  def run(c: Ctx): Double = {
    val spark = c.spark
    import spark.implicits._
    val (corpus, storeDir, storeS) = Chess.storeSetup(c)
    val t = System.nanoTime()
    val fens = probes(corpus, c.seed)
    val fensDs = spark.createDataset(fens.toSeq)
    val store = spark.read.parquet(storeDir)
    def once(): Unit = QueryEngine.exploreBatch(spark, store, fensDs)
      .write.format("noop").mode("overwrite").save()
    // untimed calls first: they ran from ~1.3 s down to ~0.65 s over
    // the first dozen
    for (_ <- 0 until WarmUps) once()
    c.report.fact("probes_and_warm_up_s", secondsSince(t))
    val setupS = storeS + secondsSince(t)

    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    while (times.isEmpty || System.nanoTime() + times.last * 1e6 < deadline) {
      val t0 = System.nanoTime()
      once()
      times += secondsSince(t0) * 1000
    }
    val failure = check(c, store, fensDs, fens.take(Sample), corpus)
    times.foreach(_ => c.report.op(failure.isEmpty, failure.getOrElse("")))
    c.report.endToEnd(times.toSeq, fens.length / (Stats.median(times.toSeq) / 1000),
      du(storeDir)._1.toDouble / corpus.validPositions)
    c.report.fact("probes", fens.length)

    if (c.traced) {
      val t1 = System.nanoTime()
      val (_, k) = c.tracer.span("batch")(_ => Listen.counted(spark)(once()))
      val ms = secondsSince(t1) * 1000
      val keys = fens.map(f => 1 + Position.fromFen(f).legalMoves().length).sum
      val r = c.report
      r.layer("batch.keys") = (keys.toDouble, "count")
      r.layer("batch.s") = (ms / 1000, "s")
      r.layer("batch.rows_scanned") = (k("input_records").toDouble, "count")
      r.layer("batch.shuffle_bytes") = (k("shuffle_write_bytes").toDouble, "B")
      r.layer("batch.tasks") = (k("tasks").toDouble, "count")
      r.layer("trace.overhead_pct") = (100.0 * (ms / Stats.median(times.toSeq) - 1), "%")
    }
    setupS
  }

  /** The batch rows of a fixed sample of probes equal `explore`'s rows
    * for them, and their root counts equal the generator's tally; the
    * failure, if any. */
  private def check(c: Ctx, store: DataFrame, fensDs: org.apache.spark.sql.Dataset[String],
                    sample: Array[String], corpus: Gen.Corpus): Option[String] = {
    val spark = c.spark
    val cols = Seq("probeFen", "childUci", "select", "level", "result",
      "games", "eloDiffSum", "firstGameId", "lastGameId")
    def rows(df: DataFrame): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
    val batch = rows(QueryEngine.exploreBatch(spark, store, fensDs)
      .filter(col("probeFen").isin(sample: _*)))
    val single = rows(QueryEngine.explore(spark, store, sample.map(_ -> None).toSeq))
    val tally = Gen.tally(corpus.games, sample.map(Gen.fenKey).toSet)
    val roots = batch.map(_.split('|')).filter(_(1).isEmpty)
      .groupBy(_(0)).map { case (f, rs) => f -> rs.map(_(5).toLong).sum }
    val bad = sample.filter { f =>
      roots.getOrElse(f, 0L) != tally.get(Gen.fenKey(f)).map(_.values.sum).getOrElse(0L)
    }
    c.report.fact("sample_absent", sample.count(f => !roots.contains(f)))
    if (batch != single) Some("batch rows differ from explore rows for the sample")
    else if (bad.nonEmpty) Some(s"root counts differ from the tally for ${bad.mkString(", ")}")
    else None
  }
}
