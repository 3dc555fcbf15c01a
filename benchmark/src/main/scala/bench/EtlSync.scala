package bench

import java.nio.file.Path
import java.sql.{Connection, DriverManager}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Graph, JdbcEngine, Operation, ServiceRegistry}
import graft.sinks.{JdbcUpsert, SnapshotStore, UpsertConfig}
import graft.sources.{JdbcBackend, JdbcPartitioning, Select, SelectConfig}

/** The reference's own loop over a SQL database: a range-partitioned JDBC
  * extract (`Select` through `Graph.run`) bootstraps a `SnapshotStore`; each
  * change batch is then selected by batch number, upserted into the store
  * (`InsertOrUpdate.merge` underneath) and written to a database mirror with
  * `JdbcUpsert` in update-only mode; two read queries follow each batch.
  *
  * The database is embedded Derby (in memory). Derby has no `ON CONFLICT`,
  * so the mirror is pre-seeded with every key the run writes and every
  * mirror write is an UPDATE; 0 prohibited rows are expected. */
final class EtlSync(nSource: Int, nBatches: Int, batchMedian: Int,
                    cores: Int) extends Workload {
  import EtlSync._

  private val source = ArrayBuffer[Row]()
  private val batches = ArrayBuffer[Vector[Row]]()
  private val scanRanges = ArrayBuffer[(Long, Long)]()
  private val d = new Digest
  private val engine = JdbcEngine(url = "jdbc:derby:memory:benchdb;create=true",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")
  private val services = ServiceRegistry(Map("sql.backend" -> JdbcBackend(engine)))
  private val cfg = UpsertConfig(discriminant = Seq("id"))
  private var lastRoot: Path = _

  def digest: String = d.hex

  private def payload(r: SplittableRandom): String = {
    val n = 200 + r.nextInt(60)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
    sb.toString
  }

  def generate(seed: Long): Unit = {
    val r = new SplittableRandom(seed * 31 + 1)
    (1 to nSource).foreach { i =>
      source += Row(i.toLong, 0, r.nextInt(Categories), r.nextLong(1000000L), payload(r))
    }
    val recency = ArrayBuffer.from(source.map(_.id))
    var nextId = nSource.toLong + 1
    (1 to nBatches).foreach { k =>
      val size = math.max(50, math.min(5 * batchMedian,
        Rand.lognormal(r, batchMedian, 0.5).round.toInt))
      val nUpd = (size * 0.3).round.toInt
      val upd = mutable.LinkedHashSet[Long]()
      while (upd.size < nUpd)
        upd += recency(recency.size - 1 - Rand.zipfRank(r, recency.size))
      val fresh = (0 until size - nUpd).map { _ => nextId += 1; nextId - 1 }
      recency ++= fresh
      batches += (upd.toVector ++ fresh).map(id =>
        Row(id, k, r.nextInt(Categories), r.nextLong(1000000L), payload(r)))
      // a ~1% key-range read after each batch
      val span = math.max(1L, (nextId - 1) / 100)
      val lo = 1 + r.nextLong(math.max(1L, nextId - 1 - span))
      scanRanges += ((lo, lo + span - 1))
    }
    source.foreach(x => d.add(x.id, x.batchNo, x.category, x.amount, x.payload))
    batches.foreach(_.foreach(x => d.add(x.id, x.batchNo, x.category, x.amount, x.payload)))
    scanRanges.foreach { case (a, b) => d.add(a, b) }
  }

  private def conn(): Connection = {
    Class.forName(engine.driver)
    DriverManager.getConnection(engine.url)
  }

  private def exec(c: Connection, sql: String): Unit = {
    val s = c.createStatement()
    try s.execute(sql) finally s.close()
  }

  private def insert(c: Connection, table: String, rows: Iterable[Row]): Unit = {
    val ps = c.prepareStatement(s"""INSERT INTO "$table" VALUES (?, ?, ?, ?, ?)""")
    try rows.grouped(1000).foreach { g =>
      g.foreach { x =>
        ps.setLong(1, x.id); ps.setInt(2, x.batchNo); ps.setInt(3, x.category)
        ps.setLong(4, x.amount); ps.setString(5, x.payload); ps.addBatch()
      }
      ps.executeBatch()
      c.commit()
    } finally ps.close()
  }

  private val columns =
    """("id" BIGINT PRIMARY KEY, "batch_no" INT, "category" INT, "amount" BIGINT, "payload" VARCHAR(300))"""

  /** Mirror rows before any write: every key a batch writes, with a value
    * no batch produces. */
  private def mirrorSeed: Vector[Row] =
    batches.flatten.map(_.id).distinct.sorted.map(id => Row(id, -1, -1, -1L, "seed")).toVector

  def stage(spark: SparkSession, dir: Path): Unit = {
    System.setProperty("derby.stream.error.file", dir.resolve("derby.log").toString)
    val c = conn()
    try {
      c.setAutoCommit(false)
      exec(c, s"""CREATE TABLE "src" $columns""")
      exec(c, s"""CREATE TABLE "chg" ("seq" BIGINT PRIMARY KEY, "id" BIGINT, "batch_no" INT, "category" INT, "amount" BIGINT, "payload" VARCHAR(300))""")
      exec(c, s"""CREATE INDEX "chg_batch" ON "chg" ("batch_no")""")
      exec(c, s"""CREATE TABLE "mirror" $columns""")
      c.commit()
      insert(c, "src", source)
      insert(c, "mirror", mirrorSeed)
      val ps = c.prepareStatement("""INSERT INTO "chg" VALUES (?, ?, ?, ?, ?, ?)""")
      var seq = 0L
      try batches.flatten.grouped(1000).foreach { g =>
        g.foreach { x =>
          seq += 1
          ps.setLong(1, seq); ps.setLong(2, x.id); ps.setInt(3, x.batchNo)
          ps.setInt(4, x.category); ps.setLong(5, x.amount); ps.setString(6, x.payload)
          ps.addBatch()
        }
        ps.executeBatch()
        c.commit()
      } finally ps.close()
    } finally c.close()
  }

  private def extract(partitioned: Boolean, where: String): DataFrame = {
    val sql = s"""SELECT "id", "batch_no", "category", "amount", "payload" FROM $where"""
    val sc = SelectConfig(sql, packSize = 1000,
      partition = if (partitioned) Some(JdbcPartitioning("id", 1L, nSource + 1L, cores)) else None)
    Graph(Select(sc)).run(SparkSession.active, services)
  }

  def warmup(spark: SparkSession, dir: Path): Unit = {
    val root = dir.resolve("warmup-store").toString
    Files2.deleteTree(dir.resolve("warmup-store"))
    SnapshotStore.upsert(spark, root, extract(partitioned = true, """"src" WHERE "id" <= 2000"""), cfg)
    SnapshotStore.upsert(spark, root, extract(partitioned = false, """"chg" WHERE "batch_no" = 1"""), cfg)
    SnapshotStore.read(spark, root).get.groupBy("category").count().collect()
  }

  def pass(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    val rootPath = dir.resolve(s"store-${rec.pass}")
    val root = rootPath.toString
    lastRoot = rootPath
    val model = mutable.HashMap[Long, Row]()
    source.foreach(x => model(x.id) = x)

    val boot = rec.op("bootstrap") {
      val df = rec.call("core", "Graph.run") { extract(partitioned = true, "\"src\"") }
      rec.call("sinks", "SnapshotStore.upsert") { SnapshotStore.upsert(spark, root, df, cfg) }
    }
    val bootOp = rec.lastOp
    rec.check("bootstrap.errors", boot.errors.isEmpty, "merge errors", Some(bootOp))
    if (rec.trace) storeDelta(rec, bootOp, rootPath, (0L, 0L), nSource)

    batches.zipWithIndex.foreach { case (rows, i) =>
      val k = i + 1
      val before = if (rec.trace) Files2.du(rootPath) else (0L, 0L)
      val (batch, n) = rec.op("select") {
        val df = rec.call("core", "Graph.run") {
          extract(partitioned = false, s""""chg" WHERE "batch_no" = $k""")
        }
        rec.holding {
          rec.call("sources", "jdbc.read") { val p = df.persist(); (p, p.count()) }
        }
      }
      rec.check("select.rows", n == rows.size, s"batch $k: $n rows, expected ${rows.size}")
      rec.opCount("sources.jdbc.rows", n.toDouble)

      val res = rec.op("upsert") {
        rec.call("sinks", "SnapshotStore.upsert") { SnapshotStore.upsert(spark, root, batch, cfg) }
      }
      val upOp = rec.lastOp
      rec.check("upsert.errors", res.errors.isEmpty, s"batch $k merge errors", Some(upOp))
      if (rec.trace) {
        storeDelta(rec, upOp, rootPath, before, rows.size)
        val v = SnapshotStore.currentVersion(spark, root).get
        val touched = SnapshotStore.changedBuckets(spark, root, v - 1, v).size
        rec.opCount("sinks.snapshot_store.touched_buckets", touched.toDouble)
        rec.opCount("sinks.snapshot_store.buckets",
          SnapshotStore.numBuckets(spark, root).getOrElse(SnapshotStore.DefaultBuckets).toDouble)
      }

      val prohibited = rec.op("jdbc_write") {
        rec.call("sinks", "JdbcUpsert.write") {
          JdbcUpsert.write(batch, engine, "mirror",
            cfg.copy(allowedOperations = Set(Operation.Update)))
        }
      }
      rec.opCount("sinks.jdbc_upsert.rows", rows.size.toDouble)
      rec.opCount("sinks.jdbc_upsert.prohibited", prohibited.toDouble)
      rec.check("jdbc_write.prohibited", prohibited == 0, s"batch $k: $prohibited prohibited rows")
      batch.unpersist(blocking = true)
      rows.foreach(x => model(x.id) = x)

      val (lo, hi) = scanRanges(i)
      val range = scan(spark, rec, root) { t =>
        t.filter(col("id").between(lo, hi)).agg(count(lit(1)), coalesce(sum("amount"), lit(0L)))
      }
      val inRange = model.valuesIterator.filter(x => x.id >= lo && x.id <= hi).toSeq
      rec.check("scan.range", range == Seq((0L, inRange.size.toLong, inRange.map(_.amount).sum)),
        s"batch $k range [$lo,$hi]: $range")

      val groups = scan(spark, rec, root) { t =>
        t.groupBy("category").agg(count(lit(1)), sum("amount"))
      }
      val expected = model.values.groupBy(_.category).toSeq
        .map { case (c, xs) => (c.toLong, xs.size.toLong, xs.map(_.amount).sum) }.sortBy(_._1)
      rec.check("scan.groupby", groups == expected, s"batch $k group-by differs")
    }
    expectedModel = model
  }

  private var expectedModel: mutable.HashMap[Long, Row] = _

  /** A read query over the store: resolve the committed version, run the
    * query, bring the (small) answer back. */
  private def scan(spark: SparkSession, rec: Recorder, root: String)(
      q: DataFrame => DataFrame): Seq[(Long, Long, Long)] = {
    val (rows, files) = rec.op("scan") {
      val t = rec.call("sinks", "SnapshotStore.read") { SnapshotStore.read(spark, root).get }
      val rows = rec.call("sources", "scan") { q(t).collect() }
      (rows, if (rec.trace) t.inputFiles.length else 0)
    }
    if (rec.trace) rec.opCount("sources.scan.files_in_version", files.toDouble)
    rows.map(r => (if (r.length == 3) r.getAs[Number](0).longValue else 0L,
      r.getAs[Number](r.length - 2).longValue, r.getAs[Number](r.length - 1).longValue))
      .toSeq.sortBy(_._1)
  }

  private def storeDelta(rec: Recorder, op: Recorder#Op, root: Path,
                         before: (Long, Long), rows: Int): Unit = {
    val after = Files2.du(root)
    rec.opCounters += ((op.id, "sinks.snapshot_store.bytes_written", (after._1 - before._1).toDouble))
    rec.opCounters += ((op.id, "sinks.snapshot_store.files_written", (after._2 - before._2).toDouble))
    rec.opCounters += ((op.id, "sinks.snapshot_store.rows", rows.toDouble))
  }

  def finish(spark: SparkSession, rec: Recorder, dir: Path): Unit = {
    val model = expectedModel
    val stored = SnapshotStore.read(spark, lastRoot.toString).get
      .select("id", "batch_no", "category", "amount", "payload").collect()
      .map(r => Row(r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getString(4)))
    val byId = stored.map(x => x.id -> x).toMap
    val matched = model.count { case (id, x) => byId.get(id).contains(x) }
    rec.counters("recall") = matched.toDouble / model.size
    rec.check("store.equals_expected", stored.length == model.size && matched == model.size,
      s"store has ${stored.length} rows, ${model.size} expected, $matched match",
      rec.ops.reverseIterator.find(_.kind == "upsert"))

    val mirrorExpected = mutable.HashMap[Long, Row]()
    mirrorSeed.foreach(x => mirrorExpected(x.id) = x)
    batches.flatten.foreach(x => mirrorExpected(x.id) = x)
    val c = conn()
    val mirror = try {
      val s = c.createStatement()
      val rs = s.executeQuery("""SELECT "id", "batch_no", "category", "amount", "payload" FROM "mirror"""")
      val out = ArrayBuffer[Row]()
      while (rs.next()) out += Row(rs.getLong(1), rs.getInt(2), rs.getInt(3), rs.getLong(4), rs.getString(5))
      s.close()
      out
    } finally c.close()
    rec.check("mirror.equals_expected",
      mirror.size == mirrorExpected.size && mirror.forall(x => mirrorExpected.get(x.id).contains(x)),
      s"mirror differs from the expected last-writer-wins table",
      rec.ops.reverseIterator.find(_.kind == "jdbc_write"))
    rec.counters("store_bytes") = Files2.du(lastRoot)._1.toDouble
  }
}

object EtlSync {
  final case class Row(id: Long, batchNo: Int, category: Int, amount: Long, payload: String)
  val Categories = 16
}
