package bench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark workload. `generate` makes every input from the seed, in
  * memory, before any session exists; `stage` writes them where the program
  * reads them; `warmup` runs one small operation on separate state;
  * `pass` runs the timed closed loop once on fresh state; `finish` checks
  * the final state and records what the end-to-end metrics need. */
trait Workload {
  def generate(seed: Long): Unit
  def digest: String
  def stage(spark: SparkSession, dir: Path): Unit
  def warmup(spark: SparkSession, dir: Path): Unit
  def pass(spark: SparkSession, rec: Recorder, dir: Path): Unit
  def finish(spark: SparkSession, rec: Recorder, dir: Path): Unit
}

/** Input digest accumulated while generating: the same seed must give the
  * same digest, a different seed a different one. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(parts: Any*): Unit = parts.foreach {
    case b: Array[Byte] => md.update(b); md.update(0.toByte)
    case x => md.update(x.toString.getBytes("UTF-8")); md.update(0.toByte)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

object Rand {
  /** Lognormal sample with the given median and log-space sigma. */
  def lognormal(r: SplittableRandom, median: Double, sigma: Double): Double =
    median * math.exp(sigma * gaussian(r))

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one value per call keeps the stream simple to reproduce
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Rank in [0, n) with density falling as 1/(rank+1): Zipf, exponent 1. */
  def zipfRank(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n.toDouble + 1)) - 1).toInt)
}

object Files2 {
  /** Stage `rows` as parquet in 8 files named by partition index alone. The
    * writer's names carry a random id, and the order files are listed in
    * decides the order a scan reads them; fixed names keep one seed's input
    * byte-for-byte the same, row order included. */
  def stageParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: Path): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(dir.toString)
    val s = Files.list(dir)
    val files = try s.iterator.asScala.toList finally s.close()
    files.foreach { f =>
      val n = f.getFileName.toString
      if (n.endsWith(".crc")) Files.delete(f)
      else if (n.startsWith("part-")) Files.move(f, dir.resolve(n.take(10) + ".parquet"))
    }
  }

  /** (bytes, data files) under a directory; data files are `*.parquet`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f =>
          bytes += Files.size(f)
          if (f.getFileName.toString.endsWith(".parquet")) files += 1
        }
        (bytes, files)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
