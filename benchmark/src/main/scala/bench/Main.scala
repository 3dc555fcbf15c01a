package bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file> [--gen-only]
  *
  * Generates the workload's inputs from the seed, sets up a session three
  * times (session start plus one warm-up operation; the first set-up also
  * stages the inputs, which is timed apart), then repeats the workload's
  * pass — a fixed closed-loop op sequence on fresh state — until `seconds`
  * have elapsed, checks the outputs and writes the run record as JSON.
  * `run.py` turns the record into metrics. */
object Main {
  val SetupRounds = 3
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = workload(name, cores)

    val g0 = System.nanoTime()
    wl.generate(seed)
    val genS = (System.nanoTime() - g0) / 1e9
    if (args.contains("--gen-only")) {
      Files.writeString(out, json.writeValueAsString(Map("workload" -> name, "seed" -> seed,
        "digest" -> wl.digest)))
      return
    }
    val seconds = opts("seconds").toDouble
    val rec = new Recorder(opts("trace") == "1")
    Files.createDirectories(work)

    val setups = ArrayBuffer[Double]()
    var stageS = 0.0
    var spark: SparkSession = null
    (1 to SetupRounds).foreach { round =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      if (round == 1) wl.stage(spark, work)
      val t2 = System.nanoTime()
      wl.warmup(spark, work.resolve(s"warmup-$round"))
      val t3 = System.nanoTime()
      stageS += (t2 - t1) / 1e9
      setups += ((t1 - t0) + (t3 - t2)) / 1e9
    }
    rec.attach(spark)

    val passes = ArrayBuffer[(Long, Long)]()
    var failure: Option[Throwable] = None
    val m0 = rec.now()
    try rec.region(name) {
      do {
        rec.pass += 1
        val p0 = rec.now()
        wl.pass(spark, rec, work.resolve(s"pass-${rec.pass}"))
        passes += ((p0, rec.now()))
      } while ((rec.now() - m0) / 1e9 < seconds)
      wl.finish(spark, rec, work)
    } catch {
      case e: Throwable =>
        failure = Some(e)
        e.printStackTrace()
    }
    rec.drain()
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> rec.trace, "cores" -> cores, "digest" -> wl.digest,
      "gen_s" -> (genS + stageS), "setup_s" -> setups,
      "passes" -> passes.map { case (a, b) => Seq(a, b) },
      "peak_rss_kb" -> peakRssKb(),
      "failure" -> failure.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(1000)),
    ) ++ rec.record()
    Files.writeString(out, json.writeValueAsString(record))
    spark.stop()
  }

  def workload(name: String, cores: Int): Workload = name match {
    case "etl_sync" => new EtlSync(nSource = 30000, nBatches = 5, batchMedian = 400, cores = cores)
    case "curate_serve" => new CurateServe(
      new CorpusCurate(nDocs = 600, nIngest = 1, ingestSize = 100),
      new AnnServe(nVectors = 5000, nQueries = 200, appendRows = 300))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One JVM, `local[cores]`, shuffle partitions = cores. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** VmHWM of this JVM, in kB. */
  def peakRssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}
