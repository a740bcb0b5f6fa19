package perfbench

/** Output checks, computed apart from the program: plain Scala over the
 *  generated inputs and the outputs read back from disk. Every check
 *  returns the list of its failures; an empty list is a pass.
 *
 *  [[SelfTest]] feeds each check a deliberately corrupted copy of a real
 *  output and expects it to fail, so a check that can no longer see a
 *  fault shows up as a wrong run. */
object Checks {

  private def same(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  /** Reference semantics of the math filter: a missing or null operand
   *  reads 0.0, the fold runs left to right in IEEE doubles. */
  def fold(op: String, operands: Seq[Option[Double]]): Double = {
    val v = operands.map(_.getOrElse(0.0))
    v.tail.foldLeft(v.head) { (acc, x) =>
      op match {
        case "sum" => acc + x
        case "sub" => acc - x
        case "mul" => acc * x
        case "div" => acc / x
      }
    }
  }

  /** `expected` and `got` are keyed by (row key, branch tag). Every
   *  expected key appears exactly once, with the expected value, and
   *  nothing else appears. */
  def math(expected: Map[(Long, String), Double], got: Seq[((Long, String), Double)]): Seq[String] = {
    val byKey = got.groupBy(_._1)
    val dupes = byKey.collect { case (k, rows) if rows.size > 1 => s"math: row $k written ${rows.size} times" }
    val extra = byKey.keys.filterNot(expected.contains).map(k => s"math: unexpected row $k")
    val wrong = expected.flatMap { case (k, want) =>
      byKey.get(k) match {
        case None => Some(s"math: row $k missing")
        case Some(rows) if !same(rows.head._2, want) => Some(s"math: row $k = ${rows.head._2}, expected $want")
        case _ => None
      }
    }
    (dupes ++ extra ++ wrong).toSeq
  }

  // ------------------------------------------------------------ quality

  private val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val bullets = Set("•", "‣", "▪", "-", "*")

  /** The Gopher rules as published: (word count, keep). */
  def gopher(text: String): (Long, Boolean) = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    val lines = text.split("\n", -1)
    val nW = words.length.toLong
    val nL = lines.length.toLong
    val chars = words.map(_.length.toLong).sum
    val nSym = text.count(_ == '#') + (text.length - text.replace("...", "").length) / 3
    val nBul = lines.count(l => l.dropWhile(_ == ' ').headOption.exists(c => bullets(c.toString)))
    val nEll = lines.count(l => l.endsWith("...") || l.endsWith("…"))
    val nAlpha = words.count(_.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
    val lower = words.map(_.toLowerCase).toSet
    val nStop = stops.count(lower.contains)
    val keep = nW >= 50 && nW <= 100000 && 3 * nW <= chars && chars <= 10 * nW &&
      10L * nSym <= nW && 10L * nBul <= 9 * nL && 10L * nEll <= 3 * nL &&
      5L * nAlpha >= 4 * nW && nStop >= 2
    (nW, keep)
  }

  def quality(texts: Map[Long, String], got: Map[Long, (Long, Boolean)]): Seq[String] =
    texts.toSeq.flatMap { case (id, t) =>
      val want = gopher(t)
      got.get(id) match {
        case Some(g) if g == want => None
        case other => Some(s"quality: doc $id = $other, expected $want")
      }
    }

  // -------------------------------------------------------------- dedup

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Exact groups: one (md5, lowest id, copies) per distinct text. */
  def exactGroups(texts: Map[Long, String], got: Seq[(String, Long, Long)]): Seq[String] = {
    val want = texts.toSeq.groupBy(_._2).map { case (t, ds) =>
      (md5Hex(t), ds.map(_._1).min, ds.size.toLong)
    }.toSet
    val g = got.toSet
    if (g == want && got.size == want.size) Nil
    else Seq(s"dedup: exact groups differ: missing ${(want -- g).take(3)}, extra ${(g -- want).take(3)}")
  }

  def shingles(text: String, k: Int): Set[String] = {
    val w = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    w.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String, k: Int): Double = {
    val (sa, sb) = (shingles(a, k), shingles(b, k))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** Every reported near-duplicate pair has a recomputed shingle
   *  Jaccard of at least `floor`, the program's threshold. */
  def nearPairs(texts: Map[Long, String], got: Seq[(Long, Long)], k: Int, floor: Double): Seq[String] =
    got.flatMap { case (a, b) =>
      val j = jaccard(texts(a), texts(b), k)
      if (j >= floor) None else Some(f"dedup: pair ($a,$b) has Jaccard $j%.3f < $floor")
    }

  def sameIds(what: String, want: Set[Long], got: Seq[Long]): Seq[String] =
    if (got.size == want.size && got.toSet == want) Nil
    else Seq(s"$what: ${got.size} ids, expected ${want.size}; " +
      s"missing ${(want -- got).take(3)}, extra ${(got.toSet -- want).take(3)}")

  // ---------------------------------------------------------------- BPE

  final class Bpe(merges: Seq[(String, String)]) {
    private val sep = "\u001F"
    val vocab: Map[String, Int] = merges.zipWithIndex
      .groupBy { case ((l, r), _) => l + r }
      .map { case (s, hits) => s -> (256 + hits.map(_._2).min) }
    private val inverse: Map[Int, String] = vocab.map(_.swap)
    private val memo = scala.collection.mutable.HashMap.empty[String, Seq[Int]]

    /** Left-to-right merge replay over one word; a multi-character
     *  symbol no merge produced reads as the unknown id 1. */
    def word(w: String): Seq[Int] = memo.getOrElseUpdate(w, {
      var s = w.map(_.toString).mkString(sep)
      for ((l, r) <- merges) s = s.replace(l + sep + r, l + r)
      s.split(sep).toSeq.map(sym => if (sym.length == 1) sym.charAt(0).toInt else vocab.getOrElse(sym, 1))
    })

    def encode(text: String): Seq[Int] =
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq.flatMap(word)

    def decode(ids: Seq[Int]): String =
      ids.map(i => if (i < 256) i.toChar.toString else inverse.getOrElse(i, "#")).mkString
  }

  /** Token ids equal the replayed encoding, and decoding them gives the
   *  text back (its words, concatenated) wherever no unknown id occurs. */
  def bpe(codec: Bpe, texts: Map[Long, String], got: Map[Long, Seq[Int]]): Seq[String] =
    texts.toSeq.flatMap { case (id, t) =>
      val want = codec.encode(t)
      val ids = got.getOrElse(id, Nil)
      if (ids != want) Some(s"bpe: doc $id ids differ at ${ids.zip(want).indexWhere(p => p._1 != p._2)}")
      else if (!ids.contains(1) && codec.decode(ids) != t.toLowerCase.split("[^a-z0-9]+").mkString)
        Some(s"bpe: doc $id does not decode to its text")
      else None
    }

  // ------------------------------------------------------------- resize

  def resize(got: Seq[(Long, Array[Byte])], width: Int, height: Int): Seq[String] =
    got.flatMap { case (id, bytes) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) Some(s"resize: doc $id does not decode")
      else if (img.getWidth != width || img.getHeight != height)
        Some(s"resize: doc $id is ${img.getWidth}x${img.getHeight}, expected ${width}x$height")
      else None
    }

  // ---------------------------------------------------- screened ingest

  /** `batches`: input ids of each micro-batch in delivery order;
   *  `kinds`: id -> (kind, source id) for every streamed doc;
   *  `survivors`: ids the sink received, per batch; `index`: ids the
   *  durable index holds at the end; `base`: ids it started with.
   *
   *  Exact duplicates of an earlier-delivered document must be screened
   *  out and unrelated documents must survive. Planted near duplicates
   *  are asserted over the whole run by [[nearRecall]]: the program's
   *  MinHash misses a few of them, on some seeds only. */
  def screen(batches: Seq[Seq[Long]], kinds: Map[Long, (String, Long)],
      survivors: Map[Int, Seq[Long]], index: Seq[Long], base: Set[Long]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val all = survivors.values.flatten.toSeq
    if (all.distinct.size != all.size) out += "screen: a survivor was admitted twice"
    val delivered = scala.collection.mutable.Set.empty[Long] ++ base
    for ((input, b) <- batches.zipWithIndex) {
      val surv = survivors.getOrElse(b, Nil).toSet
      val in = input.toSet
      if (!surv.subsetOf(in)) out += s"screen: batch $b admitted ids it was not given: ${(surv -- in).take(3)}"
      for (id <- input.sorted) {
        val (kind, src) = kinds(id)
        if (kind == "unrelated" && !surv(id)) out += s"screen: unrelated doc $id was screened out"
        if (kind == "exact" && delivered(src) && surv(id))
          out += s"screen: exact duplicate $id of earlier doc $src was admitted"
        delivered += id
      }
    }
    val wantIndex = base ++ all
    if (index.size != wantIndex.size || index.toSet != wantIndex)
      out += s"screen: index holds ${index.size} ids, expected ${wantIndex.size} " +
        s"(missing ${(wantIndex -- index).take(3)}, extra ${(index.toSet -- wantIndex).take(3)})"
    out.result()
  }

  /** Least share of a run's planted near duplicates the program must
   *  catch. With 16 MinHash permutations in 4 bands of 4 rows, a pair
   *  of Jaccard J shares no band with probability (1 − J⁴)⁴ under
   *  independent permutations: 0.4 % at the planted J ≥ 0.926. The
   *  program's permutations (`Hashing.permA`, `permB`) are correlated
   *  and miss more, so the floor sits below the recall measured on
   *  today's code, and far above what an empty or halved pair output
   *  gives. */
  val NearRecallFloor = 0.9

  /** The run caught `found` of its `planted` near duplicates. */
  def nearRecall(found: Int, planted: Int): Seq[String] =
    if (planted > 0 && found >= NearRecallFloor * planted) Nil
    else Seq(s"dedup: caught $found of $planted planted near duplicates, below the floor $NearRecallFloor")
}

/** Each check must reject a corrupted copy of a real output. */
object SelfTest {
  /** `failures` are what a check found in a corrupted output; finding
   *  nothing is itself a failure. */
  def expectFail(what: String, failures: Seq[String]): Seq[String] =
    if (failures.nonEmpty) Nil else Seq(s"self-test: the $what check accepted a corrupted output")
}
