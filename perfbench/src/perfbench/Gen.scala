package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Everything the program under test reads is
  * produced here from the workload seed alone: the same seed gives
  * byte-identical inputs, a different seed gives different ones.
  */
object Gen {

  private def hex(md: MessageDigest): String =
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val a = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(a)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** Split `total` into parts proportional to `weights`: floor shares,
    * then the remainder one unit at a time to randomly drawn parts.
    */
  private def apportion(total: Int, weights: Array[Double],
      r: SplittableRandom): Array[Int] = {
    val s = weights.sum
    val out = weights.map(w => math.floor(total * w / s).toInt)
    var rest = total - out.sum
    while (rest > 0) { out(r.nextInt(out.length)) += 1; rest -= 1 }
    out
  }

  // ------------------------------------------------------------ ratings

  /** Amazon-5-core-shaped ratings, sized like the reference's Musical
    * Instruments set (219,155 rows, 27,482 users, 10,602 items).
    *
    * Degrees are 5 + an apportioned extra per user (log-normal weights)
    * and per item (Zipf weights, exponent 0.6), so the distinct
    * (user, item) pairs are 5-core by construction. Item slots are
    * dealt to users at random and repeated pairs are swapped away.
    * Ratings come from a planted rank-5 model plus noise, rounded and
    * clipped to 1..5 around a high mean. `DupShare` of the rows are
    * repeated verbatim and `RereviewShare` get a later second review
    * with a fresh rating.
    */
  val Users = 27482
  val Items = 10602
  val Pairs = 216950
  val Zipf = 0.6
  val DupShare = 0.005
  val RereviewShare = 0.005

  final case class Ratings(
      user: Array[Int], item: Array[Int], rating: Array[Double],
      time: Array[Long], kind: Array[Byte]) {
    def rows: Int = user.length
    def line(i: Int): String =
      s"u${user(i)},i${item(i)},${rating(i)},${time(i)}"
  }
  val Original: Byte = 0
  val ExactDup: Byte = 1
  val Rereview: Byte = 2

  def ratings(seed: Long): Ratings = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1L)
    val (users, items, pairs) = (Users, Items, Pairs)
    val uDeg = apportion(pairs - 5 * users,
      Array.fill(users)(math.exp(gauss(r))), r).map(_ + 5)
    val iDeg = apportion(pairs - 5 * items,
      Array.tabulate(items)(i => math.pow(i + 1.0, -Zipf)), r).map(_ + 5)
    // deal item slots to users
    val slots = new Array[Int](pairs)
    var p = 0
    for (i <- 0 until items; _ <- 0 until iDeg(i)) { slots(p) = i; p += 1 }
    for (i <- pairs - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    val owner = new Array[Int](pairs)
    val start = new Array[Int](users + 1)
    p = 0
    for (u <- 0 until users) {
      start(u) = p
      for (_ <- 0 until uDeg(u)) { owner(p) = u; p += 1 }
    }
    start(users) = pairs
    def hasDup(u: Int): Boolean = {
      val h = mutable.HashSet.empty[Int]
      (start(u) until start(u + 1)).exists(s => !h.add(slots(s)))
    }
    // swap repeated pairs away until every user's items are distinct
    var bad = (0 until users).filter(hasDup)
    while (bad.nonEmpty) {
      for (u <- bad) {
        val h = mutable.HashSet.empty[Int]
        for (s <- start(u) until start(u + 1) if !h.add(slots(s))) {
          var done = false
          while (!done) {
            val o = r.nextInt(pairs)
            val v = owner(o)
            val a = slots(s); val b = slots(o)
            val vHas = (start(v) until start(v + 1)).exists(x => slots(x) == a)
            val uHas = h.contains(b)
            if (v != u && !vHas && !uHas) {
              slots(s) = b; slots(o) = a; h += b; done = true
            }
          }
        }
      }
      bad = (0 until users).filter(hasDup)
    }
    // planted rank-5 model
    val k = 5
    val pu = Array.fill(users * k)(gauss(r) * 0.45)
    val qi = Array.fill(items * k)(gauss(r) * 0.45)
    val bu = Array.fill(users)(gauss(r) * 0.35)
    val bi = Array.fill(items)(gauss(r) * 0.3)
    def draw(u: Int, i: Int): Double = {
      var s = 4.3 + bu(u) + bi(i) + gauss(r) * 0.6
      var f = 0
      while (f < k) { s += pu(u * k + f) * qi(i * k + f); f += 1 }
      math.min(5.0, math.max(1.0, math.rint(s)))
    }
    val t0 = 1262304000L // 2010-01-01
    val span = 8L * 365 * 86400
    val nDup = math.round(pairs * DupShare).toInt
    val nRe = math.round(pairs * RereviewShare).toInt
    val n = pairs + nDup + nRe
    val out = Ratings(new Array[Int](n), new Array[Int](n),
      new Array[Double](n), new Array[Long](n), new Array[Byte](n))
    for (s <- 0 until pairs) {
      out.user(s) = owner(s); out.item(s) = slots(s)
      out.rating(s) = draw(owner(s), slots(s))
      out.time(s) = t0 + (r.nextDouble() * span).toLong
    }
    for (j <- 0 until nDup + nRe) {
      val src = r.nextInt(pairs)
      val d = pairs + j
      out.user(d) = out.user(src); out.item(d) = out.item(src)
      if (j < nDup) {
        out.rating(d) = out.rating(src); out.time(d) = out.time(src)
        out.kind(d) = ExactDup
      } else {
        out.rating(d) = draw(out.user(src), out.item(src))
        out.time(d) = out.time(src) + 1 + r.nextInt(86400 * 90)
        out.kind(d) = Rereview
      }
    }
    out
  }

  /** Write the ratings as the reference's headerless CSV
    * (`user,item,rating,time`); returns the content hash.
    */
  def writeCsv(rs: Ratings, file: File): String = {
    file.getParentFile.mkdirs()
    val md = MessageDigest.getInstance("SHA-256")
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try for (i <- 0 until rs.rows) {
      val l = rs.line(i) + "\n"
      md.update(l.getBytes(StandardCharsets.UTF_8))
      w.write(l)
    } finally w.close()
    hex(md)
  }

  /** The self-check line: counts, the 5-core property on distinct
    * pairs, and the shares of duplicates and re-reviews.
    */
  def ratingsCheck(rs: Ratings, hash: String): (Boolean, String) = {
    val orig = (0 until rs.rows).filter(rs.kind(_) == Original)
    val uDeg = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    val iDeg = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    val pairs = mutable.HashSet.empty[Long]
    orig.foreach { i =>
      uDeg(rs.user(i)) += 1; iDeg(rs.item(i)) += 1
      pairs += rs.user(i).toLong << 32 | rs.item(i)
    }
    val distinct = pairs.size == orig.size
    val core5 = uDeg.values.min >= 5 && iDeg.values.min >= 5
    val dups = rs.kind.count(_ == ExactDup)
    val re = rs.kind.count(_ == Rereview)
    val ratingsOk = rs.rating.forall(x => x >= 1.0 && x <= 5.0)
    val ok = distinct && core5 && ratingsOk
    (ok, f"ratings rows=${rs.rows} users=${uDeg.size} items=${iDeg.size} " +
      f"min_user_deg=${uDeg.values.min} min_item_deg=${iDeg.values.min} " +
      f"five_core=$core5 dup_share=${100.0 * dups / rs.rows}%.2f%% " +
      f"rereview_share=${100.0 * re / rs.rows}%.2f%% " +
      f"mean_rating=${rs.rating.sum / rs.rows}%.3f hash=$hash")
  }

  // ------------------------------------------------------------- corpus

  /** The sf0.1 `documents` vocabulary: 30 words drawn uniformly. */
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  /** sf0.1 document lengths are uniform on 10..100 words. */
  val MinWords = 10
  val MaxWords = 100
  /** Planted copies keep Jaccard(5-shingles) at least this far above
    * the 0.7 dedup threshold, so MinHash/LSH misses are negligible.
    */
  val MinCopyJaccard = 0.9

  final case class Doc(id: Long, text: String,
      cluster: Int, // -1 = not planted in any cluster
      original: Boolean, // the first (source) member of its cluster
      part: Int) // the file the document arrives in

  def shingles(words: IndexedSeq[String], k: Int = 5): Set[String] =
    if (words.length < k) Set.empty
    else (0 to words.length - k).map(i => words.slice(i, i + k).mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  private def randomWords(r: SplittableRandom, n: Int): Vector[String] =
    Vector.fill(n)(Vocab(r.nextInt(Vocab.length)))

  /** A near copy: one to three seeded word edits (substitution,
    * tail deletion, append), accepted only while the copy keeps
    * Jaccard >= [[MinCopyJaccard]] against its source; an exact copy
    * when no edit qualifies.
    */
  def nearCopy(src: Vector[String], r: SplittableRandom): Vector[String] = {
    val base = shingles(src)
    var edits = 1 + r.nextInt(3)
    while (edits > 0) {
      var w = src
      for (_ <- 0 until edits) r.nextInt(3) match {
        case 0 =>
          w = w.updated(r.nextInt(w.length), Vocab(r.nextInt(Vocab.length)))
        case 1 if w.length > MinWords => w = w.dropRight(1)
        case _ => w = w :+ Vocab(r.nextInt(Vocab.length))
      }
      if (w != src && jaccard(base, shingles(w)) >= MinCopyJaccard) return w
      edits -= 1
    }
    src
  }

  /** `docs` documents in `parts` files. */
  final case class CorpusSpec(docs: Int, parts: Int)

  /** Share of every file after the first that is planted near copies. */
  val CopyShare = 0.1

  /** A seeded streaming corpus with planted near-duplicate clusters.
    *
    * Part p holds new documents plus near copies of documents that were
    * NEW in earlier parts, never of another document of the same part,
    * so every planted copy has an earlier member of its cluster to match.
    * A quarter of the new documents (of at least 15 words, so an edit can
    * keep Jaccard >= 0.9) become cluster sources; a third of the copies
    * repeat one 100-word boilerplate document, the skewed mega-cluster.
    */
  def corpus(seed: Long, spec: CorpusSpec): IndexedSeq[Doc] = {
    require(spec.parts >= 2, "a streaming corpus needs at least two parts")
    val r = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 7L)
    val perPart = spec.docs / spec.parts
    def newDoc(): Vector[String] =
      randomWords(r, MinWords + r.nextInt(MaxWords - MinWords + 1))
    val mega = randomWords(r, MaxWords)
    val sources = mutable.ArrayBuffer((mega, 0))
    var cluster = 1
    val copiesPerPart = math.max(1, (perPart * CopyShare).toInt)
    val out = mutable.ArrayBuffer.empty[Doc]
    var id = 0L
    for (p <- 0 until spec.parts) {
      val part = mutable.ArrayBuffer.empty[(Vector[String], Int, Boolean)]
      if (p == 0) part += ((mega, 0, true))
      else for (_ <- 0 until copiesPerPart) {
        val (src, c) =
          if (r.nextInt(3) == 0 || sources.length == 1) sources(0)
          else sources(1 + r.nextInt(sources.length - 1))
        part += ((nearCopy(src, r), c, false))
      }
      while (part.length < perPart) {
        val w = newDoc()
        if (w.length >= 15 && r.nextInt(4) == 0 && p < spec.parts - 1) {
          sources += ((w, cluster))
          part += ((w, cluster, true)); cluster += 1
        } else part += ((w, -1, false))
      }
      val arr = part.toArray
      for (i <- arr.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      arr.foreach { case (w, c, o) =>
        out += Doc(id, w.mkString(" "), c, o, p); id += 1
      }
    }
    // clusters whose source never got a copy are not clusters
    val copied = out.filter(d => d.cluster >= 0 && !d.original).map(_.cluster).toSet
    out.map(d => if (d.cluster >= 0 && !copied(d.cluster)) d.copy(cluster = -1, original = false) else d)
      .toIndexedSeq
  }

  def corpusHash(docs: IndexedSeq[Doc]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    docs.foreach(d => md.update(s"${d.id}\t${d.part}\t${d.text}\n".getBytes(StandardCharsets.UTF_8)))
    hex(md)
  }

  /** The self-check line: planted clusters, their size histogram and
    * the content hash; fails if any copy drifted below the Jaccard floor.
    */
  def corpusCheck(docs: IndexedSeq[Doc]): (Boolean, String) = {
    val byCluster = docs.filter(_.cluster >= 0).groupBy(_.cluster)
    val sizes = byCluster.values.map(_.size).toSeq
    val hist = sizes.groupBy(s => if (s <= 5) s.toString else if (s <= 11) "6-11" else "12+")
      .map { case (k, v) => s"$k:${v.size}" }.toSeq.sorted.mkString(",")
    val ok = byCluster.values.forall { ms =>
      val src = ms.find(_.original)
      src.isDefined && {
        val base = shingles(src.get.text.split(" ").toIndexedSeq)
        ms.forall(m => m.original ||
          jaccard(base, shingles(m.text.split(" ").toIndexedSeq)) >= MinCopyJaccard)
      }
    }
    (ok, s"corpus docs=${docs.size} parts=${docs.map(_.part).max + 1} " +
      s"clusters=${byCluster.size} planted_copies=${docs.count(d => d.cluster >= 0 && !d.original)} " +
      s"largest=${if (sizes.isEmpty) 0 else sizes.max} size_hist={$hist} " +
      s"copies_ok=$ok hash=${corpusHash(docs)}")
  }
}
