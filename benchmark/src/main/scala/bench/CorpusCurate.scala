package bench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashFunctions => H, ImageDHashExpr, ImageFeaturesExpr, TextFunctions => T}
import graft.operators.{Dedup, Selection}
import graft.sinks.{SnapshotStore, UpsertConfig}

/** LLM corpus curation: one bulk `curate` op runs the curation chain of
  * `CorpusCurationExample.curate` plus image dedup through public calls
  * (quality and repetition filters, exact dedup, n-gram near-dup drop,
  * image dHash near-dup drop, decontamination against an eval set, a
  * per-language token budget, `SnapshotStore.upsert`) and stores the
  * corpus's MinHash band keys; `ingest` ops then dedup arriving batches
  * against the stored keys (`Dedup.minHashLshAgainst` with `oldKeys`) and
  * append the accepted docs and their keys.
  *
  * Planted content, all decided by the generator: exact duplicates, near
  * duplicate clusters at word 3-gram Jaccard 0.6–0.95 to their seed,
  * degenerate text, docs containing a verbatim span of an eval doc, image
  * near-copies (resized or re-encoded PNGs) and corrupt image payloads.
  * Copies always get larger ids than their seed, so the seed is the doc a
  * correct dedup keeps. */
final class CorpusCurate(nDocs: Int, val nIngest: Int, ingestSize: Int) {
  import CorpusCurate._

  private val d = new Digest
  // doc_id -> (text, image); kind per doc; ingest batches
  private val docs = ArrayBuffer[(Long, String, Array[Byte])]()
  private val kind = mutable.HashMap[Long, Kind]()
  private val evalDocs = ArrayBuffer[(Long, String)]()
  private val ingest = ArrayBuffer[Vector[(Long, String)]]()
  private var corrupt = 0
  private var imageDocs = 0
  private var totalTokens = 0L
  // doc_id -> (the language label and token count the curation should store)
  private val meta = mutable.HashMap[Long, (String, Int)]()
  private var lastPass: Path = _

  def digest: String = d.hex

  // ------------------------------------------------------------ generation

  private final class Lang(val words: Array[String], val markers: Array[String])

  private def langs(r: SplittableRandom): Array[Lang] = {
    def word(lo: Char, span: Int, len: Int) =
      (0 until len).map(_ => (lo + r.nextInt(span)).toChar).mkString
    Array(
      new Lang(Array.fill(VocabSize)(word('a', 26, 3 + r.nextInt(7))),
        Array("the", "and", "of", "to", "is", "a", "in", "that", "it", "for")),
      new Lang(Array.fill(VocabSize)(word('а', 32, 3 + r.nextInt(7))), Array()),
      new Lang(Array.fill(VocabSize)(word('一', 20000, 2 + r.nextInt(2))),
        Array("的", "是", "了", "在", "我")))
  }

  /** Tokens of one fresh doc: vocabulary words, with a marker word first
    * and in about one token of ten after it (never two in a row), so the
    * doc's language label is its script's. */
  private def tokens(r: SplittableRandom, l: Lang, n: Int): Array[String] = {
    var prevMarker = false
    Array.tabulate(n) { i =>
      if (l.markers.nonEmpty && i == 0) {
        prevMarker = true
        l.markers(0)
      } else if (l.markers.nonEmpty && !prevMarker && r.nextInt(10) == 0) {
        prevMarker = true
        l.markers(r.nextInt(l.markers.length))
      } else {
        prevMarker = false
        l.words(r.nextInt(l.words.length))
      }
    }
  }

  private def docLength(r: SplittableRandom): Int =
    math.max(120, math.min(1500, Rand.lognormal(r, 220, 0.5).round.toInt))

  /** A near copy of `seed` at word 3-gram Jaccard in [0.6, 0.95]; marker
    * words are kept, so the copy keeps its language label. */
  private def nearCopy(r: SplittableRandom, l: Lang, seed: Array[String]): Array[String] = {
    val target = 0.62 + 0.31 * r.nextDouble()
    val keep = 2 * target / (1 + target) // surviving 3-gram share
    val p = 1 - math.cbrt(keep)
    var out = seed
    var j = 1.0
    var tries = 0
    while ((j < 0.6 || j > 0.95) && tries < 50) {
      out = seed.map(t =>
        if (!l.markers.contains(t) && r.nextDouble() < p) l.words(r.nextInt(l.words.length)) else t)
      j = jaccard3(seed, out)
      tries += 1
    }
    require(j >= 0.6 && j <= 0.95, s"could not plant a near copy (jaccard $j)")
    out
  }

  def generate(seed: Long): Unit = {
    val r = new SplittableRandom(seed * 31 + 2)
    val ls = langs(r)
    val texts = mutable.HashMap[Long, (Int, Array[String])]()
    (1 to nDocs).foreach { i =>
      val li = r.nextInt(3)
      texts(i.toLong) = (li, tokens(r, ls(li), docLength(r)))
      kind(i.toLong) = Distinct
    }
    // eval set (Latin) and contaminated corpus docs carrying a 40-token span
    (1 to EvalDocs).foreach { i =>
      evalDocs += ((1000000000L + i, tokens(r, ls(0), docLength(r)).mkString(" ")))
    }
    val latin = (1 to nDocs).map(_.toLong).filter(texts(_)._1 == 0)
    val nContam = (nDocs * 0.02).round.toInt
    shuffled(r, latin).take(nContam).foreach { id =>
      val ev = evalDocs(r.nextInt(evalDocs.size))._2.split(" ")
      val at = r.nextInt(ev.length - 40)
      val (li, toks) = texts(id)
      val pos = r.nextInt(toks.length)
      texts(id) = (li, toks.take(pos) ++ ev.slice(at, at + 40) ++ toks.drop(pos))
      kind(id) = Contaminated
    }
    val nDegen = (nDocs * 0.03).round.toInt
    shuffled(r, (1 to nDocs).map(_.toLong).filter(kind(_) == Distinct)).take(nDegen).foreach { id =>
      val (li, _) = texts(id)
      val w = ls(li).words(r.nextInt(VocabSize))
      texts(id) = (li, Array.fill(150)(w))
      kind(id) = Degenerate
    }
    val clean = shuffled(r, (1 to nDocs).map(_.toLong).filter(kind(_) == Distinct))
    var next = nDocs.toLong
    def newId(): Long = { next += 1; next }
    // exact duplicates: 5%
    (0 until (nDocs * 0.05).round.toInt).foreach { _ =>
      val s = clean(r.nextInt(clean.size))
      val id = newId()
      texts(id) = texts(s)
      kind(id) = ExactDup
    }
    // near-duplicate clusters of 2-5: ~10% copies
    var nearLeft = (nDocs * 0.10).round.toInt
    var seedIdx = 0
    while (nearLeft > 0) {
      val s = clean(seedIdx)
      seedIdx += 1
      val (li, toks) = texts(s)
      (0 until math.min(nearLeft, 1 + r.nextInt(4))).foreach { _ =>
        val id = newId()
        texts(id) = (li, nearCopy(r, ls(li), toks))
        kind(id) = NearDup
        nearLeft -= 1
      }
    }
    // images: originals on 8% of docs (clean ones), a fifth of all
    // image-carrying docs are near copies, 1% of them corrupt
    val images = mutable.HashMap[Long, Array[Byte]]()
    val nOrig = (nDocs * 0.08).round.toInt
    val origIds = clean.drop(seedIdx).take(nOrig)
    origIds.foreach(id => images(id) = png(cellImage(r, 64)))
    corrupt = math.max(1, ((nOrig * 1.25) * 0.01).round.toInt)
    origIds.takeRight(corrupt).foreach { id =>
      val b = images(id).clone()
      (16 until b.length).foreach(i => b(i) = r.nextInt(256).toByte)
      images(id) = b.take(math.max(40, b.length / 3))
      kind(id) = CorruptImage
    }
    val sound = origIds.dropRight(corrupt)
    (0 until (nOrig / 4)).foreach { i =>
      val src = sound(r.nextInt(sound.size))
      val img = ImageCopies.decode(images(src))
      val copy = if (i % 2 == 0) ImageCopies.resize(img, 80) else ImageCopies.brighten(img, 4)
      val id = newId()
      val li = r.nextInt(3)
      texts(id) = (li, tokens(r, ls(li), docLength(r)))
      images(id) = png(copy)
      kind(id) = ImageDup
    }
    imageDocs = images.size
    texts.keys.toSeq.sorted.foreach { id =>
      val text = texts(id)._2.mkString(" ")
      docs += ((id, text, images.getOrElse(id, null)))
      meta(id) = (LangIds(texts(id)._1), texts(id)._2.length)
      totalTokens += texts(id)._2.length
    }
    // ingest batches: 30% near copies of docs the curation keeps
    val standing = clean.drop(seedIdx + nOrig)
    (0 until nIngest).foreach { _ =>
      ingest += Vector.fill(ingestSize) {
        val id = newId()
        if (r.nextInt(10) < 3) {
          val s = standing(r.nextInt(standing.size))
          val (li, toks) = texts(s)
          kind(id) = IngestNearDup
          meta(id) = (LangIds(li), toks.length)
          (id, nearCopy(r, ls(li), toks).mkString(" "))
        } else {
          val li = r.nextInt(3)
          val toks = tokens(r, ls(li), docLength(r))
          kind(id) = IngestDistinct
          meta(id) = (LangIds(li), toks.length)
          (id, toks.mkString(" "))
        }
      }
    }
    docs.foreach { case (id, t, img) => d.add(id, t, Option(img).getOrElse(Array.emptyByteArray)) }
    evalDocs.foreach { case (id, t) => d.add(id, t) }
    ingest.foreach(_.foreach { case (id, t) => d.add(id, t) })
  }

  private def shuffled(r: SplittableRandom, xs: Seq[Long]): IndexedSeq[Long] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** A 9x8 grid of random colour cells, the grid dHash samples: distinct
    * images differ in about half their hash bits, while a resized or
    * brightened copy keeps every cell's order against its neighbour. */
  private def cellImage(r: SplittableRandom, size: Int): BufferedImage = {
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_RGB)
    val cells = Array.fill(8, 9)(Array.fill(3)(r.nextInt(240)))
    for (y <- 0 until size; x <- 0 until size) {
      val c = cells(y * 8 / size)(x * 9 / size)
      img.setRGB(x, y, (c(0) << 16) | (c(1) << 8) | c(2))
    }
    img
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // --------------------------------------------------------------- running

  private val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false), StructField("image", BinaryType, true)))
  private val textSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))

  def stage(spark: SparkSession, dir: Path): Unit = {
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      Files2.stageParquet(spark, rows, schema, dir.resolve(name))
    write(docs.map { case (i, t, b) => Row(i, t, b) }.toSeq, docSchema, "docs")
    write(evalDocs.map { case (i, t) => Row(i, t) }.toSeq, textSchema, "eval")
    ingest.zipWithIndex.foreach { case (b, i) =>
      write(b.map { case (id, t) => Row(id, t) }, textSchema, s"ingest-$i")
    }
  }

  private def in(spark: SparkSession, name: String, dir: Path): DataFrame =
    spark.read.parquet(dir.getParent.resolve(name).toString)

  private val cfg = UpsertConfig(discriminant = Seq("doc_id"))

  private def labeled(df: DataFrame): DataFrame = df
    .withColumn("split", T.stableSplit(col("doc_id"), 0.9))
    .withColumn("lang_id", T.langId(col("text")))
    .withColumn("n_tokens", T.tokenCount(col("text")).cast("long"))

  /** The curation chain, each call into a program module recorded. */
  private def curate(rec: Recorder, docsDf: DataFrame, evalDf: DataFrame,
                     budget: Long): DataFrame = {
    val kept = rec.call("functions", "quality+repetition") {
      docsDf.withColumn("quality", T.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .filter(T.tokenRepetition(col("text")) <= 0.8)
    }
    val dedup = "operators.dedup"
    val exact = rec.call(dedup, "exactByFingerprint") {
      Dedup.exactByFingerprint(kept, "text", "doc_id")
    }
    val pairs = rec.call(dedup, "ngramJaccardPairs") {
      Dedup.ngramJaccardPairs(exact, "text", "doc_id", shingleSize = 3, threshold = 0.5)
    }
    val near = rec.call(dedup, "dropNearDuplicates") {
      Dedup.dropNearDuplicates(exact, "doc_id", pairs)
    }
    val imgPairs = rec.call(dedup, "imageDHashPairs") {
      Dedup.imageDHashPairs(near.filter(col("image").isNotNull), "image", "doc_id")
    }
    val noImgDup = rec.call(dedup, "dropNearDuplicates") {
      Dedup.dropNearDuplicates(near, "doc_id", imgPairs)
    }
    val clean = rec.call(dedup, "decontaminate") {
      Dedup.decontaminate(noImgDup, evalDf, "text", "doc_id", shingleSize = 8)
    }
    rec.call("operators.selection", "tokenBudgetPerStratum") {
      Selection.tokenBudgetPerStratum(labeled(clean), "lang_id", "n_tokens", budget,
        rankBy = Seq(col("quality").desc, col("doc_id"))).drop("cum_tokens")
    }.select("doc_id", "lang_id", "quality", "split", "n_tokens", "text")
  }

  private def storeCurated(spark: SparkSession, rec: Recorder, dir: Path,
                           curated: DataFrame): Unit = {
    val root = dir.resolve("corpus").toString
    val res = rec.call("sinks", "SnapshotStore.upsert") {
      SnapshotStore.upsert(spark, root, curated, cfg)
    }
    rec.check("curate.errors", res.errors.isEmpty, "merge errors")
    val stored = rec.call("sinks", "SnapshotStore.read") { SnapshotStore.read(spark, root).get }
    val keys = rec.call("operators.dedup", "minHashBandKeys") {
      Dedup.minHashBandKeys(stored, "text", "doc_id")
    }
    rec.call("sources", "keys.write") {
      keys.write.mode("overwrite").parquet(dir.resolve("keys").toString)
    }
  }

  /** Set-up's warm-up op: the ingest dedup of a few docs against the band
    * keys of a small slice of the corpus. */
  def warmup(spark: SparkSession, dir: Path): Unit = {
    val old = in(spark, "docs", dir).filter(col("doc_id") <= 100)
    Dedup.minHashLshAgainst(in(spark, "ingest-0", dir).limit(30), old, "text", "doc_id",
      oldKeys = Some(Dedup.minHashBandKeys(old, "text", "doc_id"))).collect()
  }

  /** One arriving batch: near-dup pairs against the stored corpus keys and
    * within the batch; accepted docs and their keys are appended. Returns
    * the ids the dedup dropped. */
  private def ingestBatch(spark: SparkSession, rec: Recorder, dir: Path,
                          batch: DataFrame): Set[Long] = {
    val root = dir.resolve("corpus").toString
    val keysPath = dir.resolve("keys").toString
    val corpus = rec.call("sinks", "SnapshotStore.read") { SnapshotStore.read(spark, root).get }
    val pairs = rec.call("operators.dedup", "minHashLshAgainst") {
      Dedup.minHashLshAgainst(batch, corpus, "text", "doc_id",
        oldKeys = Some(spark.read.parquet(keysPath)))
    }
    val dropped = rec.call("action", "pairs.collect") {
      pairs.select(when(col("other_is_new"), greatest(col("id_new"), col("id_other")))
        .otherwise(col("id_new"))).distinct().collect().map(_.getLong(0)).toSet
    }
    val accepted = rec.holding {
      batch.filter(!col("doc_id").isin(dropped.toSeq: _*))
        .withColumn("quality", T.qualityScore(col("text"))).persist()
    }
    val res = rec.call("sinks", "SnapshotStore.upsert") {
      SnapshotStore.upsert(spark, root,
        labeled(accepted).select("doc_id", "lang_id", "quality", "split", "n_tokens", "text"), cfg)
    }
    rec.check("ingest.errors", res.errors.isEmpty, "merge errors")
    val keys = rec.call("operators.dedup", "minHashBandKeys") {
      Dedup.minHashBandKeys(accepted, "text", "doc_id")
    }
    rec.call("sources", "keys.write") { keys.write.mode("append").parquet(keysPath) }
    accepted.unpersist(blocking = true)
    dropped
  }

  /** The bulk op: the curation chain into the store, then the stored keys. */
  def curateOp(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    lastPass = dir
    rec.op("curate") {
      val curated = curate(rec, in(spark, "docs", dir), in(spark, "eval", dir), totalTokens + 1)
      storeCurated(spark, rec, dir, curated)
    }
  }

  /** Incremental batch `i`: dedup against the stored keys, append. */
  def ingestOp(spark: SparkSession, rec: Recorder, dir: Path, i: Int): Unit = {
    val ids = ingest(i).map(_._1).toSet
    val out = rec.op("ingest") {
      ingestBatch(spark, rec, dir, in(spark, s"ingest-$i", dir))
    }
    val wrong = out.filter(id => kind(id) != IngestNearDup)
    rec.check("ingest.no_wrong_drop", wrong.isEmpty && out.subsetOf(ids),
      s"batch $i dropped distinct docs ${wrong.take(5)}")
  }

  def finish(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    val root = lastPass.resolve("corpus")
    val stored = SnapshotStore.read(spark, root.toString).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val curateOp = rec.ops.reverseIterator.find(_.kind == "curate")
    def present(k: Kind) = kind.collect { case (id, `k`) if stored(id) => id }
    def all(k: Kind) = kind.collect { case (id, `k`) => id }
    rec.check("curate.exact_dups_gone", present(ExactDup).isEmpty,
      s"${present(ExactDup).size} exact duplicates stored", curateOp)
    rec.check("curate.contaminated_gone", present(Contaminated).isEmpty,
      s"${present(Contaminated).size} contaminated docs stored", curateOp)
    val lost = (all(Distinct) ++ all(CorruptImage) ++ all(IngestDistinct)).filterNot(stored)
    val labels = SnapshotStore.read(spark, root.toString).get
      .select("doc_id", "lang_id", "n_tokens").collect()
      .filter(r => meta(r.getLong(0)) != ((r.getString(1), r.getLong(2).toInt)))
    rec.check("curate.labels", labels.isEmpty,
      s"${labels.length} stored docs with an unexpected language or token count, e.g. ${labels.headOption}",
      curateOp)
    rec.check("curate.no_wrong_drop", lost.isEmpty,
      s"${lost.size} planted-distinct docs missing, e.g. ${lost.take(5)}", curateOp)
    val planted = Seq(ExactDup, NearDup, ImageDup, IngestNearDup).flatMap(all)
    val removed = planted.count(id => !stored(id))
    rec.counters("operators.dedup.dup_recall") = removed.toDouble / planted.size

    // decode check: undecodable payloads are exactly the planted corrupt ones
    val docsDf = in(spark, "docs", lastPass).filter(col("image").isNotNull)
    val nulls = docsDf.filter(ImageDHashExpr(col("image")).isNull).count()
    rec.check("functions.image_decode_nulls", nulls == corrupt,
      s"$nulls undecodable payloads, $corrupt planted corrupt")
    rec.counters("functions.image.decode_nulls") = nulls.toDouble
    rec.counters("functions.image.rows") = imageDocs.toDouble
    rec.counters("sinks.snapshot_store.bytes") = Files2.du(root)._1.toDouble
    if (rec.trace) kernels(spark, rec, lastPass)
  }

  /** Scan-side kernel throughput: a noop write of a projection that calls
    * the kernel over the workload's input (traced runs only). */
  private def kernels(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    val all = in(spark, "docs", dir)
    val imgs = all.filter(col("image").isNotNull)
    val toks = H.wordShingles(T.tokens(lower(col("text"))), 3)
    Seq(
      ("quality", all, T.qualityScore(col("text")), docs.size),
      ("shingle", all, size(toks), docs.size),
      ("minhash", all, H.minHash(toks, 64), docs.size),
      ("image_dhash", imgs, ImageDHashExpr(col("image")), imageDocs),
      ("image_features", imgs, ImageFeaturesExpr(col("image")), imageDocs)
    ).foreach { case (name, df, expr, rows) =>
      val t0 = System.nanoTime()
      rec.op(s"kernel.$name") {
        rec.call("functions", name) {
          df.select(expr.as("k")).write.format("noop").mode("overwrite").save()
        }
      }
      rec.counters(s"functions.$name.rows") = rows.toDouble
      rec.counters(s"functions.$name.s") = (System.nanoTime() - t0) / 1e9
    }
  }
}

object CorpusCurate {
  sealed trait Kind
  case object Distinct extends Kind
  case object Contaminated extends Kind
  case object Degenerate extends Kind
  case object CorruptImage extends Kind
  case object ExactDup extends Kind
  case object NearDup extends Kind
  case object ImageDup extends Kind
  case object IngestNearDup extends Kind
  case object IngestDistinct extends Kind

  val VocabSize = 20000
  val LangIds = Array("en", "und", "zh")
  val EvalDocs = 100

  /** Jaccard of the word 3-gram sets, the benchmark's own reference. */
  def jaccard3(a: Array[String], b: Array[String]): Double = {
    def grams(t: Array[String]) = t.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}

/** Near copies of a PNG: a bilinear resize and a brightness shift, both
  * re-encoded as PNG. */
object ImageCopies {
  def decode(b: Array[Byte]): BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))

  def resize(img: BufferedImage, size: Int): BufferedImage = {
    val out = new BufferedImage(size, size, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, size, size, null)
    g.dispose()
    out
  }

  def brighten(img: BufferedImage, by: Int): BufferedImage = {
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = img.getRGB(x, y)
      val c = Seq(16, 8, 0).map(s => math.min(255, ((p >> s) & 0xff) + by))
      out.setRGB(x, y, (c(0) << 16) | (c(1) << 8) | c(2))
    }
    out
  }
}
