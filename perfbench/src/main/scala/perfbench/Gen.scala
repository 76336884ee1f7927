package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Each writes plain text files whose bytes are a
  * pure function of (seed, sizes); the program under test only ever sees
  * what is read back from these files. */
object Gen {

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), StandardCharsets.UTF_8), 1 << 16)
  }

  private def shuffle[T](xs: IndexedSeq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---- floor ------------------------------------------------------------

  /** The frozen query list in `block` rounds, stratified by recorded wall.
    * The queries in `every` run in every round. The others, sorted by wall,
    * fall into consecutive blocks of `block`; round r takes the r-th query
    * of every block (in a seeded order within the block, wrapping round in
    * a shorter last block). Each round is in a seeded order. So every round
    * samples the whole wall range instead of a seed-dependent slice of it,
    * and all rounds together visit every query. */
  val FloorBlock = 40

  def floorStrata(listed: Int, every: Int, block: Int = FloorBlock): Int =
    (listed - every + block - 1) / block

  def floorOrder(names: IndexedSeq[(String, Double)], every: Set[String], seed: Long,
      block: Int = FloorBlock): IndexedSeq[String] = {
    val rnd = new SplittableRandom(seed)
    val fixed = names.map(_._1).filter(every)
    val blocks = names.filterNot(x => every(x._1)).sortBy(x => (x._2, x._1)).map(_._1)
      .grouped(block).map(b => shuffle(b.toIndexedSeq, rnd)).toIndexedSeq
    (0 until block).flatMap(r => shuffle(fixed ++ blocks.map(b => b(r % b.size)), rnd))
  }

  def writeFloor(dir: Path, names: IndexedSeq[(String, Double)], every: Set[String],
      seed: Long): Path = {
    val p = dir.resolve("floor_order.txt")
    val w = writer(p)
    try floorOrder(names, every, seed).foreach { n => w.write(n); w.write('\n') } finally w.close()
    p
  }

  // ---- knn-serve ----------------------------------------------------------

  final case class KnnSizes(n: Int, dim: Int, clusters: Int, queries: Int,
      batches: Int, batchSize: Int, noise: Double)

  private def vecLine(w: BufferedWriter, id: Long, v: Array[Float]): Unit = {
    w.write(id.toString); w.write(',')
    var i = 0
    while (i < v.length) { if (i > 0) w.write(' '); w.write(java.lang.Float.toString(v(i))); i += 1 }
    w.write('\n')
  }

  /** Clustered vectors: `clusters` Gaussian centres, each point a centre
    * plus isotropic noise. Files: base (ids 0..n-1), queries (a pool of
    * request vectors, ids from 1e9), inserts (batches of new vectors,
    * ids from n) and deletes (batches of distinct base ids). */
  def writeKnn(dir: Path, s: KnnSizes, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed)
    def gauss(): Double = {
      // Box-Muller on the seeded stream (java.util.Random's gaussian is not
      // available on SplittableRandom)
      val u = math.max(rnd.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
    }
    val centres = Array.fill(s.clusters, s.dim)(gauss())
    def point(): Array[Float] = {
      val c = centres(rnd.nextInt(s.clusters))
      Array.tabulate(s.dim)(i => (c(i) + s.noise * gauss()).toFloat)
    }
    def file(name: String)(f: BufferedWriter => Unit): Unit = {
      val w = writer(dir.resolve(name)); try f(w) finally w.close()
    }
    file("knn_base.txt")(w => (0 until s.n).foreach(i => vecLine(w, i.toLong, point())))
    file("knn_queries.txt")(w => (0 until s.queries).foreach(i => vecLine(w, 1000000000L + i, point())))
    file("knn_inserts.txt")(w =>
      (0 until s.batches * s.batchSize).foreach(i => vecLine(w, s.n.toLong + i, point())))
    val dels = shuffle(0 until s.n, rnd).take(s.batches * s.batchSize)
    file("knn_deletes.txt")(w => dels.foreach { d => w.write(d.toString); w.write('\n') })
  }

  // ---- prep ---------------------------------------------------------------

  /** Gender spellings of the raw `"id,gender"` record and the code the
    * Concept's mapping gives each (lower(trim(x)) in m/male → 0,
    * f/female → 1, anything else → -1). */
  val Genders: IndexedSeq[(String, Int)] = IndexedSeq(
    "m" -> 0, "M" -> 0, "male" -> 0, "Male" -> 0, " MALE " -> 0,
    "f" -> 1, "F" -> 1, "female" -> 1, "Female" -> 1, "FEMALE " -> 1, " f" -> 1,
    "u" -> -1, "" -> -1, "n/a" -> -1, "x" -> -1)

  final case class PrepSizes(records: Int, docs: Int, copyPct: Int, nearPct: Int,
      benchPct: Int)

  /** Raw lines of `;`-separated records (one line in four carries 2–4
    * records), and the expected per-gender counts. */
  def writeRaw(dir: Path, records: Int, seed: Long): Map[Int, Long] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val counts = scala.collection.mutable.Map(0 -> 0L, 1 -> 0L, -1 -> 0L)
    val w = writer(dir.resolve("raw.txt"))
    try {
      var id = 0
      while (id < records) {
        val k = math.min(records - id, if (rnd.nextInt(4) == 0) 2 + rnd.nextInt(3) else 1)
        val recs = (0 until k).map { j =>
          val (g, code) = Genders(rnd.nextInt(Genders.size))
          counts(code) += 1
          s"${id + j},$g"
        }
        w.write(recs.mkString(";")); w.write('\n')
        id += k
      }
    } finally w.close()
    counts.toMap
  }

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "pe", "da", "gu", "ho", "ri", "ze", "ba", "qu", "fi", "xo", "wy", "je")
  val Langs = IndexedSeq("en", "es", "fr", "de", "zh")
  val Sources = IndexedSeq("web", "books", "news")

  /** Synthetic corpus (JSON lines: doc_id, text, lang, source, n_chars).
    * Originals take ids 0..u-1 and draw 50–80 words from a 20k-word
    * vocabulary (so unrelated documents share no 3-word shingle); then
    * `copyPct`% exact copies and `nearPct`% near copies (one word
    * replaced) of random originals follow, with higher ids so dedup keeps
    * the original. Also writes the decontamination set (`benchPct`% of
    * originals) and the planted/bench id lists the checks read. */
  def writeDocs(dir: Path, s: PrepSizes, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed ^ 0xd0c5L)
    def word(): String = {
      val i = rnd.nextInt(20000)
      Syllables(i % 20) + Syllables((i / 20) % 20) + Syllables((i / 400) % 20) +
        (if (i >= 8000) Syllables(i / 8000) else "")
    }
    val planted = s.docs * (s.copyPct + s.nearPct) / 100
    val originals = s.docs - planted
    val texts = Array.fill(originals)(Array.fill(50 + rnd.nextInt(31))(word()))
    val meta = Array.fill(originals)((Langs(rnd.nextInt(Langs.size)), Sources(rnd.nextInt(Sources.size))))
    val w = writer(dir.resolve("docs.jsonl"))
    val wp = writer(dir.resolve("docs_planted.txt"))
    def doc(id: Long, ws: Array[String], m: (String, String)): Unit = {
      val text = ws.mkString(" ")
      w.write(s"""{"doc_id":$id,"text":"$text","lang":"${m._1}","source":"${m._2}","n_chars":${text.length}}""")
      w.write('\n')
    }
    try {
      for (i <- 0 until originals) doc(i.toLong, texts(i), meta(i))
      val nCopies = s.docs * s.copyPct / 100
      for (j <- 0 until planted) {
        val src = rnd.nextInt(originals)
        val ws = texts(src).clone()
        if (j >= nCopies) ws(1 + rnd.nextInt(ws.length - 2)) = word()
        val id = (originals + j).toLong
        doc(id, ws, meta(src))
        wp.write(id.toString); wp.write('\n')
      }
    } finally { w.close(); wp.close() }
    val bench = shuffle(0 until originals, rnd).take(originals * s.benchPct / 100).sorted
    val wb = writer(dir.resolve("docs_bench.txt"))
    try bench.foreach { b => wb.write(b.toString); wb.write('\n') } finally wb.close()
  }
}
