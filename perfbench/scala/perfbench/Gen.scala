package perfbench

import graft.chess.{Core, Position, San}

/** Deterministic PGN corpus generator. Every game draws from its own
  * splitmix64 stream seeded by (seed, game index), so the corpus bytes
  * depend only on the seed and the size.
  *
  * Shape, chosen to look like a real corpus to the import and probe
  * layers:
  *  - the first `ZipfPlies` plies pick a legal move by a Zipf(s) rank
  *    over the legal moves in encoding order, so games share openings
  *    and the start position's children are hot keys; later plies pick
  *    uniformly, so deep positions are mostly unique;
  *  - game length is uniform in [40, 120] plies (mean ~80, so ~81
  *    position occurrences per game), cut short by mate or stalemate;
  *  - about one game in `MalformedEvery` carries one well-formed but
  *    illegal SAN token; the importer must skip exactly those games.
  */
object Gen {

  val ZipfPlies = 16
  val ZipfS = 1.2
  val MalformedEvery = 200
  val MinPlies = 40
  val MaxPlies = 120

  /** splitmix64: small, fast and identical on every JVM. */
  final class Rng(seed: Long) {
    private var state = seed
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** Uniform in [0, 1). */
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = (nextDouble() * n).toInt
  }

  def gameRng(seed: Long, idx: Long): Rng =
    new Rng(seed * 0x2545f4914f6cdd1dL + idx * 0x9e3779b97f4a7c15L + 1L)

  /** Zipf ranks in [0, n): P(k) ∝ 1/(k+1)^s, drawn by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    require(n > 0, "Zipf over no ranks")
    private val cdf = {
      val w = Array.tabulate(n)(k => math.pow(k + 1, -s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i + 1 else -i - 1, n - 1)
    }
  }

  /** Move-choice samplers by number of legal moves (a position has at
    * most 218). */
  private val moveZipf = Array.tabulate(256)(n => if (n == 0) null else new Zipf(n, ZipfS))

  /** One generated game. `badPly` >= 0 marks the ply whose SAN token is
    * replaced by `badToken`, which makes the whole game invalid. */
  final case class Game(idx: Int, moves: Array[Int], result: String,
                        whiteElo: Int, blackElo: Int,
                        badPly: Int, badToken: String) {
    def valid: Boolean = badPly < 0
    def positions: Long = moves.length + 1L
  }

  private val Results = Array("1-0", "1/2-1/2", "0-1")

  def game(seed: Long, idx: Int): Game = {
    val rng = gameRng(seed, idx)
    val target = MinPlies + rng.nextInt(MaxPlies - MinPlies + 1)
    val moves = Array.newBuilder[Int]
    var pos = Position.initial
    var legal = pos.legalMoves()
    var ply = 0
    while (ply < target && legal.nonEmpty) {
      val sorted = legal.sorted
      val m =
        if (ply < ZipfPlies) sorted(moveZipf(sorted.length).draw(rng))
        else sorted(rng.nextInt(sorted.length))
      moves += m
      pos = pos.make(m)
      legal = pos.legalMoves()
      ply += 1
    }
    val result =
      if (legal.isEmpty && pos.inCheck)
        (if (pos.sideToMove == Core.Black) "1-0" else "0-1")
      else Results(rng.nextInt(3))
    val ms = moves.result()
    val whiteElo = 1200 + rng.nextInt(1600)
    val blackElo = 1200 + rng.nextInt(1600)
    val bad = rng.nextInt(MalformedEvery) == 0 && ms.nonEmpty
    if (!bad) Game(idx, ms, result, whiteElo, blackElo, -1, "")
    else {
      val badPly = rng.nextInt(ms.length)
      var p = Position.initial
      var i = 0
      while (i < badPly) { p = p.make(ms(i)); i += 1 }
      // a king move to a square the king cannot reach: well-formed SAN
      // that no legal-move check accepts
      val squares = (0 until 64).map(Core.squareName)
      val start = rng.nextInt(64)
      val token = (0 until 64).map(k => "K" + squares((start + k) % 64))
        .find(t => San.parse(p, t).isEmpty).get
      Game(idx, ms, result, whiteElo, blackElo, badPly, token)
    }
  }

  /** The game as PGN text: seven-tag roster plus Elo tags, SAN movetext
    * wrapped at 80 columns. */
  def pgn(g: Game): String = {
    val sb = new StringBuilder
    sb.append(s"""[Event "perfbench"]\n[Site "local"]\n""")
    sb.append(f"""[Date "2024.${1 + g.idx % 12}%02d.${1 + g.idx % 28}%02d"]\n""")
    sb.append(s"""[Round "${g.idx}"]\n[White "w${g.idx % 997}"]\n[Black "b${g.idx % 991}"]\n""")
    sb.append(s"""[Result "${g.result}"]\n[WhiteElo "${g.whiteElo}"]\n[BlackElo "${g.blackElo}"]\n\n""")
    var pos = Position.initial
    var line = 0
    def word(w: String): Unit = {
      if (line > 0 && line + 1 + w.length > 80) { sb.append('\n'); line = 0 }
      else if (line > 0) { sb.append(' '); line += 1 }
      sb.append(w); line += w.length
    }
    var i = 0
    while (i < g.moves.length) {
      if (i % 2 == 0) word(s"${i / 2 + 1}.")
      word(if (i == g.badPly) g.badToken else San.emit(pos, g.moves(i)))
      pos = pos.make(g.moves(i))
      i += 1
    }
    word(g.result)
    sb.append("\n\n")
    sb.toString
  }

  /** A written corpus: the files, split into the `create` part (the
    * first ¾ of the files) and the `append` part, and the generator's
    * own counts. */
  final case class Corpus(games: Array[Game], createDir: String,
                          appendDir: String, bytes: Long, sha256: String) {
    lazy val validGames: Long = games.count(_.valid).toLong
    lazy val malformed: Long = games.length - validGames
    lazy val validPositions: Long = games.filter(_.valid).map(_.positions).sum
  }

  def parallel[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  /** Write `nGames` games over `nFiles` PGN files under `dir`. */
  def writeCorpus(dir: String, seed: Long, nGames: Int, nFiles: Int): Corpus = {
    // games are independent, so generate and render them in parallel;
    // the output does not depend on the schedule
    val games = parallel(nGames)(i => game(seed, i))
    val texts = parallel(nGames)(i => pgn(games(i)))
    val createDir = s"$dir/create"
    val appendDir = s"$dir/append"
    new java.io.File(createDir).mkdirs()
    new java.io.File(appendDir).mkdirs()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    val perFile = (nGames + nFiles - 1) / nFiles
    val createFiles = nFiles * 3 / 4
    for (f <- 0 until nFiles) {
      val body = texts.slice(f * perFile, (f + 1) * perFile).mkString
        .getBytes("UTF-8")
      md.update(body)
      bytes += body.length
      val target = if (f < createFiles) createDir else appendDir
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$target/part-$f%03d.pgn"), body)
    }
    Corpus(games, createDir, appendDir, bytes,
      md.digest().map("%02x".format(_)).mkString)
  }

  /** Position identity the store keys on, derived from the FEN alone:
    * board, side to move, castling rights, and the en-passant square
    * only when a pawn of the side to move stands beside the pushed pawn
    * (otherwise the square cannot matter and the field reads "-"). */
  def fenKey(fen: String): String = {
    val f = fen.trim.split("\\s+")
    val ep = f(3)
    val epKept =
      if (ep == "-") "-"
      else {
        val rows = f(0).split('/').map(_.flatMap(c =>
          if (c.isDigit) "." * (c - '0') else c.toString))
        val file = ep.charAt(0) - 'a'
        // the capturing pawn stands on rank 5 (white) or rank 4 (black)
        val (row, pawn) = if (f(1) == "w") (rows(8 - 5), 'P') else (rows(8 - 4), 'p')
        if ((file > 0 && row(file - 1) == pawn) || (file < 7 && row(file + 1) == pawn))
          ep else "-"
      }
    s"${f(0)} ${f(1)} ${f(2)} $epKept"
  }

  /** Occurrences of each target position over the valid games, keyed by
    * `fenKey`, split by the move that led there (0 at game start) and
    * by the game result. Stops replaying a game once its piece count
    * falls below every target's, since pieces never come back. */
  def tally(games: Array[Game], targets: Set[String])
      : Map[String, Map[(Int, String), Long]] = {
    def pieces(key: String): Int = key.takeWhile(_ != ' ').count(_.isLetter)
    val minPieces = if (targets.isEmpty) 99 else targets.map(pieces).min
    val counts = scala.collection.mutable.Map.empty[(String, Int, String), Long]
    for (g <- games if g.valid) {
      var pos = Position.initial
      var i = 0
      var alive = true
      def visit(rev: Int): Unit = {
        val k = fenKey(pos.toFen)
        if (targets.contains(k)) {
          val c = (k, rev, g.result)
          counts(c) = counts.getOrElse(c, 0L) + 1
        }
        alive = pieces(k) >= minPieces
      }
      visit(Core.NoMove)
      while (alive && i < g.moves.length) {
        pos = pos.make(g.moves(i))
        visit(g.moves(i))
        i += 1
      }
    }
    counts.toSeq.groupBy(_._1._1).map { case (k, rows) =>
      k -> rows.map { case ((_, rev, res), n) => (rev, res) -> n }.toMap
    }
  }

  /** Distinct positions of the valid games up to `maxPly`, with their
    * occurrence counts, most frequent first (ties by FEN). */
  def openingPool(games: Array[Game], maxPly: Int): Array[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, (String, Long)]
    for (g <- games if g.valid) {
      var pos = Position.initial
      var i = 0
      while (i <= math.min(maxPly, g.moves.length)) {
        val fen = pos.toFen
        val k = fenKey(fen)
        val (f0, n) = counts.getOrElse(k, (fen, 0L))
        counts(k) = (f0, n + 1)
        if (i < g.moves.length) pos = pos.make(g.moves(i))
        i += 1
      }
    }
    counts.values.toArray.sortBy { case (f, n) => (-n, f) }
  }

  /** A legal position no game of the corpus can reach: a corpus
    * position with all eight white pawns plus a ninth white pawn on an
    * empty third-rank square (not giving check to the side not on
    * move, so the position stays legal). None if `fen` does not fit. */
  def absentVariant(fen: String, rng: Rng): Option[String] = {
    val p = Position.fromFen(fen)
    if (p.board.count(_ == Core.WP) != 8) return None
    val empties = (16 until 24).filter(sq =>
      p.board(sq) == Core.Empty && sq != p.epSquare)
    if (empties.isEmpty) return None
    val sq = empties(rng.nextInt(empties.size))
    val b = p.board.clone()
    b(sq) = Core.WP
    val q = new Position(b, p.sideToMove, p.castling, p.epSquare, p.halfmove, p.fullmove)
    if (q.isAttacked(q.kingSquare(1 - q.sideToMove), q.sideToMove)) None
    else Some(q.toFen)
  }
}
