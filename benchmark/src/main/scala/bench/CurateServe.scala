package bench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The LLM-data workload: curate a corpus, serve ANN search over an
  * embedding table, and take arriving batches into both.
  *
  * One pass runs, in order:
  *   - `curate` ([[CorpusCurate]]) and one `build` per index layout
  *     ([[AnnServe]]): the bulk ops;
  *   - one `ingest` per arriving batch of documents, then one `append` of
  *     new vectors per layout;
  *   - one `maintain` per layout, then one `probe` per layout.
  *
  * Both chains run in one JVM because the benchmark's run budget does not
  * leave room for a separate cold JVM per chain. */
final class CurateServe(corpus: CorpusCurate, ann: AnnServe) extends Workload {
  private var digestHex = ""

  def digest: String = digestHex

  def generate(seed: Long): Unit = {
    corpus.generate(seed)
    ann.generate(seed)
    val d = new Digest
    d.add(corpus.digest, ann.digest)
    digestHex = d.hex
  }

  def stage(spark: SparkSession, dir: Path): Unit = {
    corpus.stage(spark, dir)
    ann.stage(spark, dir)
  }

  /** One warm-up op per chain. */
  def warmup(spark: SparkSession, dir: Path): Unit = {
    corpus.warmup(spark, dir)
    ann.warmup(spark, dir)
  }

  def pass(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    corpus.curateOp(spark, rec, dir)
    ann.buildOps(spark, rec, dir)
    (0 until corpus.nIngest).foreach(k => corpus.ingestOp(spark, rec, dir, k))
    ann.appendOps(spark, rec, dir)
    ann.maintainOps(spark, rec, dir)
    ann.probeOps(spark, rec, dir)
  }

  def finish(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    corpus.finish(spark, rec, dir)
    ann.finish(spark, rec, dir)
    val c = rec.counters
    // every factor counts: a relative drop in any one moves `recall` by the same share
    c("recall") = c("operators.dedup.dup_recall") *
      AnnServe.Layouts.map(l => c(s"operators.similarity.$l.recall_at_10")).product
    c("store_bytes") = c("sinks.snapshot_store.bytes") + c("operators.similarity.index_bytes")
  }
}
