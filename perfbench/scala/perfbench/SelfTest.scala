package perfbench

import graft.chess.{Pgn, Position}

/** Tests of the benchmark's own code; no Spark session needed.
  * Run with `python3 perfbench/selftest.py` from the repository root.
  * Exits non-zero if any test fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: ${e.getMessage}") }

  private def eq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(args.headOption.getOrElse(".")), "selftest").toString

    test("the same seed writes the same PGN bytes; another seed does not") {
      val a = Gen.writeCorpus(s"$dir/a", 7, 300, 4)
      val b = Gen.writeCorpus(s"$dir/b", 7, 300, 4)
      val c = Gen.writeCorpus(s"$dir/c", 8, 300, 4)
      eq(a.sha256, b.sha256, "digest of two runs with seed 7")
      eq(a.bytes, b.bytes, "bytes of two runs with seed 7")
      if (a.sha256 == c.sha256) throw new AssertionError("seeds 7 and 8 wrote the same corpus")
    }

    test("the importer's parser skips exactly the games made malformed") {
      val corpus = Gen.writeCorpus(s"$dir/m", 11, 1000, 4)
      if (corpus.malformed == 0) throw new AssertionError("no malformed game in 1000")
      val texts = Seq(corpus.createDir, corpus.appendDir).flatMap(d =>
        new java.io.File(d).listFiles.sortBy(_.getName).map(f =>
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
      val stats = texts.map(t => Pgn.parseAll(t)._2)
      eq(stats.map(_.skipped).sum, corpus.malformed, "skipped games")
      eq(stats.map(_.games).sum, corpus.validGames, "parsed games")
      eq(stats.map(_.positions).sum, corpus.validPositions, "position occurrences")
    }

    test("Zipf draws follow 1/(k+1)^s") {
      val n = 5; val s = 1.2; val draws = 200000
      val z = new Gen.Zipf(n, s)
      val rng = new Gen.Rng(3)
      val counts = new Array[Int](n)
      for (_ <- 0 until draws) counts(z.draw(rng)) += 1
      val w = (1 to n).map(k => math.pow(k, -s))
      for (k <- 0 until n) {
        val want = w(k) / w.sum
        val got = counts(k).toDouble / draws
        if (math.abs(got - want) > 0.005)
          throw new AssertionError(f"rank $k: frequency $got%.4f, want $want%.4f")
      }
      eq(new Gen.Zipf(1, s).draw(rng), 0, "the only rank of a one-rank Zipf")
    }

    test("median and tail percentile") {
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "median of four")
      eq(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0, "median of three")
      // 100 samples: the 90th value has 10 beyond it
      eq(Stats.tail((1 to 100).map(_.toDouble)), (90.0, 90.0), "tail of 1..100")
      eq(Stats.tail((1 to 20).map(_.toDouble)), (10.0, 50.0), "tail of 1..20")
      // too few samples for a percentile above the median with 10
      // beyond: the maximum
      eq(Stats.tail((1 to 19).map(_.toDouble)), (19.0, 100.0), "tail of 1..19")
      eq(Stats.tail(Seq(3.0, 9.0, 1.0)), (9.0, 100.0), "tail of three")
    }

    test("fenKey keeps an en-passant square only when a capture is possible") {
      val afterE4 = Position.initial.make(
        graft.chess.San.parse(Position.initial, "e4").get)
      eq(Gen.fenKey(afterE4.toFen),
        "rnbqkbnr/pppppppp/8/8/4P3/8/PPPP1PPP/RNBQKBNR b KQkq -", "after 1.e4")
      eq(Gen.fenKey("rnbqkbnr/ppp1p1pp/8/3pPp2/8/8/PPPP1PPP/RNBQKBNR w KQkq f6 0 3"),
        "rnbqkbnr/ppp1p1pp/8/3pPp2/8/8/PPPP1PPP/RNBQKBNR w KQkq f6", "e5 pawn can take f6")
    }

    test("absent variants are legal and never occur in a game") {
      val v = Gen.absentVariant(Position.StartFen, new Gen.Rng(1)).get
      eq(Position.fromFen(v).board.count(_ == graft.chess.Core.WP), 9, "white pawns")
      if (Position.fromFen(v).legalMoves().isEmpty) throw new AssertionError("no legal move")
    }

    test("span self time subtracts the union of its children") {
      val t = new Tracer(true)
      t.span("root") { r =>
        Thread.sleep(30)
        t.span("a", r)(_ => Thread.sleep(40))
        Thread.sleep(30)
      }
      val self = t.selfTimesMs.map { case (s, ms) => s.name -> ms }.toMap
      val all = t.all.map(s => s.name -> (s.end - s.start) / 1e6).toMap
      if (math.abs(self("root") - (all("root") - all("a"))) > 0.01)
        throw new AssertionError(s"root self ${self("root")}, spans $all")
      eq(self("a"), all("a"), "a leaf's self time")
    }

    Main.rmTree(dir)
    if (failures > 0) { println(s"$failures test(s) failed"); sys.exit(1) }
    println("all tests passed")
  }
}
