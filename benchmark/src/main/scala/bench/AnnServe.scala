package bench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** The ANN index lifecycle over three layouts (IVF, flat PQ, IVF-PQ): per
  * layout a `build` op, an `append` op of new in-distribution rows, a
  * `maintain` op with a 0.9 recall target, and a
  * `probe` op of fixed queries with the layout's default widths. Every
  * returned score is checked against the exact cosine, and recall@10
  * against an exact top-10, both computed here with plain arrays. */
final class AnnServe(nVectors: Int, nQueries: Int, appendRows: Int) {
  import AnnServe._

  private val d = new Digest
  private var vectors: Array[Array[Float]] = _ // corpus rows, then appended rows
  private var queries: Array[Array[Float]] = _
  private var truth: Array[Seq[Long]] = _
  private var lastPass: Path = _

  def digest: String = d.hex

  def generate(seed: Long): Unit = {
    val r = new SplittableRandom(seed * 31 + 3)
    val centers = Array.fill(Components)(Array.fill(Dim)(Rand.gaussian(r).toFloat))
    def draw(): Array[Float] = {
      val c = centers(r.nextInt(Components))
      Array.tabulate(Dim)(i => c(i) + 0.35f * Rand.gaussian(r).toFloat)
    }
    vectors = Array.fill(nVectors + appendRows)(draw())
    queries = Array.fill(nQueries)(draw())
    (vectors.iterator ++ queries.iterator).foreach(v => d.add(v.mkString(",")))
    // the probes run after the append, so the exact answer covers both
    truth = queries.map(exactTopK)
  }

  private val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("vec", ArrayType(FloatType, containsNull = false), false)))
  private val querySchema = StructType(Seq(StructField("query_id", LongType, false),
    StructField("vec", ArrayType(FloatType, containsNull = false), false)))

  def stage(spark: SparkSession, dir: Path): Unit = {
    def write(rows: Seq[Row], s: StructType, name: String): Unit =
      Files2.stageParquet(spark, rows, s, dir.resolve(name))
    write((0 until nVectors).map(i => Row(i.toLong, vectors(i).toSeq)), schema, "corpus")
    write((nVectors until vectors.length).map(i => Row(i.toLong, vectors(i).toSeq)), schema, "append")
    write(queries.indices.map(i => Row(i.toLong, queries(i).toSeq)), querySchema, "queries")
  }

  private def in(spark: SparkSession, dir: Path, name: String): DataFrame =
    spark.read.parquet(dir.getParent.resolve(name).toString)

  private def build(layout: String, df: DataFrame, path: String): Unit = layout match {
    case "ivf" => Similarity.ivfBuild(df, "vec", path)
    case "pq" => Similarity.pqBuild(df, "vec", "id", path)
    case "ivfpq" => Similarity.ivfPqBuild(df, "vec", path)
  }

  private def append(layout: String, df: DataFrame, path: String): Unit = layout match {
    case "ivf" => Similarity.ivfAppend(df, "vec", path)
    case "pq" => Similarity.pqAppend(df, "vec", "id", path)
    case "ivfpq" => Similarity.ivfPqAppend(df, "vec", path)
  }

  private def probe(spark: SparkSession, layout: String, path: String,
                    q: DataFrame): DataFrame = layout match {
    case "ivf" => Similarity.ivfProbeTopK(spark, path, q, "vec", "id", "query_id", K)
    case "pq" => Similarity.pqProbeTopK(spark, path, q, "vec", "id", "query_id", K)
    case "ivfpq" => Similarity.ivfPqProbeTopK(spark, path, q, "vec", "id", "query_id", K)
  }

  /** Set-up's warm-up op: an exact top-k of a few queries over a slice of
    * the corpus. */
  def warmup(spark: SparkSession, dir: Path): Unit =
    Similarity.bruteForceTopK(in(spark, dir, "corpus").filter("id < 500"),
      in(spark, dir, "queries").limit(5), "vec", "id", "query_id", K).collect()

  def buildOps(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    lastPass = dir
    Layouts.foreach { l =>
      rec.op("build") {
        rec.call("operators.similarity", s"$l.build") { build(l, in(spark, dir, "corpus"), path(dir, l)) }
      }
    }
  }

  /** The arriving vectors, appended to every layout. */
  def appendOps(spark: SparkSession, rec: Recorder, dir: Path): Unit =
    Layouts.foreach { l =>
      rec.op("append") {
        rec.call("operators.similarity", s"$l.append") { append(l, in(spark, dir, "append"), path(dir, l)) }
      }
    }

  def maintainOps(spark: SparkSession, rec: Recorder, dir: Path): Unit =
    Layouts.foreach { l =>
      val (_, decision) = rec.op("maintain") {
        rec.call("operators.similarity", s"$l.maintain") {
          Similarity.indexMaintain(spark, path(dir, l), "vec", idCol = "id", recallTarget = Some(0.9))
        }
      }
      if (decision != "ok") rec.count("operators.similarity.rebuilds", 1)
    }

  private def path(dir: Path, layout: String): String = dir.resolve(s"index-$layout").toString

  /** One probe op per layout over the fixed queries, after every append. */
  def probeOps(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    val paths = Layouts.map(l => l -> path(dir, l)).toMap
    Layouts.foreach { l =>
      val rows = rec.op("probe") {
        val df = rec.call("operators.similarity", s"$l.probeTopK") {
          probe(spark, l, paths(l), in(spark, dir, "queries"))
        }
        rec.call("action", "collect") { df.select("query_id", "id", "cosine").collect() }
      }
      rec.opCount(s"operators.similarity.$l.probe", 1)
      if (rec.trace)
        rec.opCount("sources.scan.files_in_version", Files2.du(Path.of(paths(l)))._2.toDouble)
      val bad = rows.filter { r =>
        val exact = cosine(queries(r.getLong(0).toInt), vectors(r.getLong(1).toInt))
        math.abs(exact - r.getAs[Number](2).doubleValue) > 1e-5
      }
      rec.check("probe.cosine_exact", bad.isEmpty,
        s"$l: ${bad.length} of ${rows.length} scores differ from the exact cosine, e.g. ${bad.headOption}")
      val got = rows.groupBy(_.getLong(0)).map { case (q, xs) => q -> xs.map(_.getLong(1)).toSet }
      val hits = truth.indices.map(q => (truth(q).toSet intersect got.getOrElse(q.toLong, Set.empty)).size).sum
      rec.counters(s"operators.similarity.$l.recall_at_10") = hits.toDouble / (K * truth.length)
    }
  }

  /** Ids of the K vectors of highest cosine to `q`, ties to the lower id. */
  private def exactTopK(q: Array[Float]): Seq[Long] = {
    val best = scala.collection.mutable.ArrayBuffer[(Double, Int)]()
    vectors.indices.foreach { i =>
      val c = cosine(q, vectors(i))
      if (best.size < K || c > best.last._1) {
        best.insert(best.indexWhere(_._1 < c) match { case -1 => best.size; case j => j }, (c, i))
        if (best.size > K) best.remove(K)
      }
    }
    best.map(_._2.toLong).toSeq
  }

  def finish(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    var total = 0L
    Layouts.foreach { l =>
      val (bytes, _) = Files2.du(lastPass.resolve(s"index-$l"))
      rec.counters(s"operators.similarity.$l.index_bytes") = bytes.toDouble
      total += bytes
    }
    rec.counters("operators.similarity.index_bytes") = total.toDouble
  }
}

object AnnServe {
  val Dim = 64
  val Components = 100
  val K = 10
  val Layouts = Vector("ivf", "pq", "ivfpq")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
