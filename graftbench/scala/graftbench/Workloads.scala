package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.catalog.YamlCatalog
import graft.engine.Ingest
import graft.writers.VersionedHub

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import Harness.{Check, OpResult, Workload}

object Workloads {
  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes under a hub directory over the bytes its latest snapshot
    * references.
    */
  def spaceAmp(spark: SparkSession, path: String): Double = {
    val live = VersionedHub.filesDF(spark, path).select("bytes").collect()
      .map(_.getLong(0)).sum
    Harness.du(path)._1.toDouble / live.max(1L)
  }

  def historyMs(spark: SparkSession, path: String): Double =
    timedMs(VersionedHub.history(spark, path))._2
}

/** Incremental catalog ingest: every operation is one `Ingest.runCatalog`
  * over a freshly loaded YAML catalog whose three sources point at the
  * next delta batch (orders parquet into a 16-bucket versioned hub,
  * customers CSV with schema inference into a flat hub, lineitems JSON
  * lines into a versioned hub keyed on two columns).
  */
final class IngestWorkload(spark: SparkSession, input: String, work: String)
    extends Workload {
  import Workloads._

  private val lake = s"$work/lake"
  private val entities = Seq("orders", "customers", "lineitems")
  /** batch -> (rows per entity, source bytes), from the generator's index */
  private val batches: Map[Int, (Seq[Long], Long)] =
    scala.io.Source.fromFile(s"$input/batches.tsv").getLines().map { l =>
      val f = l.split('\t')
      f(0).toInt -> (f.slice(1, 4).map(_.toLong).toSeq, f(4).toLong)
    }.toMap
  private val warmup = 3
  private var lastBatch = -1
  private var historyFirstMs = 0.0
  private var setupMs: Seq[Double] = Nil

  def entryModule: String = "engine"

  override def fsRoots: Seq[String] = Seq(s"$lake/hub", s"$lake/raw")

  private var bucketDirs: Map[Int, String] = Map.empty

  private def ordersBuckets(): Map[Int, String] =
    VersionedHub.history(spark, s"$lake/hub/sales/orders").lastOption.map(_.buckets)
      .getOrElse(Map.empty)

  /** Buckets of the orders hub whose data directory the run replaced. */
  override def after(i: Int, r: OpResult): OpResult = {
    val now = ordersBuckets()
    val rewritten = now.count { case (b, d) => !bucketDirs.get(b).contains(d) }
    bucketDirs = now
    r.copy(extra = r.extra + ("buckets_rewritten" -> rewritten))
  }

  private def catalogPath(b: Int) = s"$work/catalog-$b.yaml"

  private def yaml(b: Int): String = {
    val src = s"$input/batches/$b"
    s"""version: 1
       |defaults:
       |  raw_base: $lake/raw
       |  hub_base: $lake/hub
       |  checkpoint_base: $lake/_checkpoints
       |  domain: sales
       |sources:
       |  - id: orders_parquet
       |    type: parquet
       |    domain: sales
       |    entity: orders
       |    options:
       |      path: $src/orders
       |    hub_primary_keys: ["o_orderkey"]
       |    hub_buckets: 16
       |  - id: customers_csv
       |    type: csv
       |    domain: sales
       |    entity: customers
       |    options:
       |      path: $src/customers
       |      header: true
       |      inferSchema: true
       |    hub_primary_keys: ["c_custkey"]
       |    hub_layout: flat
       |  - id: lineitems_json
       |    type: json
       |    domain: sales
       |    entity: lineitems
       |    options:
       |      path: $src/lineitems
       |      multiline: false
       |    hub_primary_keys: ["l_orderkey", "l_linenumber"]
       |""".stripMargin
  }

  private def ingest(b: Int): Double = {
    val (sys, loadMs) = timedMs(YamlCatalog.load(catalogPath(b)))
    Ingest.runCatalog(spark, sys, parallelism = 1)
    lastBatch = b
    loadMs
  }

  def setup(): Unit = {
    batches.keys.foreach(b => write(catalogPath(b), yaml(b)))
    setupMs = (0 to warmup).map(b => timedMs(ingest(b))._2)
    historyFirstMs = historyMs(spark, s"$lake/hub/sales/orders")
    bucketDirs = ordersBuckets()
  }

  private def batchOf(i: Int) = warmup + 1 + i

  override def hasNext(i: Int): Boolean = batches.contains(batchOf(i))

  def op(i: Int): OpResult = {
    val b = batchOf(i)
    val loadMs = ingest(b)
    OpResult("ingest", batches(b)._1.sum,
      extra = Map("batch" -> b, "source_bytes" -> batches(b)._2, "catalog_load_ms" -> loadMs))
  }

  /** RAW must hold every batch row; the HUB snapshots are exported for the
    * last-writer-wins comparison done outside the JVM.
    */
  def checks(): Seq[Check] = entities.zipWithIndex.flatMap { case (e, k) =>
    val expected = (0 to lastBatch).map(b => batches(b)._1(k)).sum
    val raw = spark.read.parquet(s"$lake/raw/sales/$e").count()
    val hub = Ingest.readHub(spark, s"$lake/hub/sales/$e")
    hub.drop("_source_id", "_ingest_ts_utc", "ingest_date")
      .write.mode("overwrite").parquet(s"$work/check/$e")
    Seq(Check(s"raw_rows.$e", raw == expected, s"raw=$raw expected=$expected"))
  }

  def extras(): Map[String, Any] = Map(
    "last_batch" -> lastBatch, "setup_runs_ms" -> setupMs,
    "hub_space_amp" -> Seq("orders", "lineitems")
      .map(e => spaceAmp(spark, s"$lake/hub/sales/$e")).sum / 2,
    "history_ms_first" -> historyFirstMs,
    "history_ms_last" -> historyMs(spark, s"$lake/hub/sales/orders"))
}

/** Keyed SQL operations on one 16-bucket hub through the SQL catalog with
  * Zipf-skewed keys. Operations come in seeded blocks of eleven: five point
  * SELECTs, two MERGEs, one UPDATE and one DELETE in shuffled order, then
  * an optimize and a vacuum CALL, so maintenance runs every four commits.
  * The timed loop stops only at a block boundary, so every run sees the
  * same mix. A driver-side model of the table checks every read and the
  * final table.
  */
final class HubSqlWorkload(spark: SparkSession, input: String, work: String, seed: Long)
    extends Workload {
  import Workloads._

  private val table = "hub.default.orders"
  private val path = s"$work/hubsql/orders"
  private val rnd = new scala.util.Random(seed)
  private type Vals = (Long, String, Double, Long, String)
  private val model = mutable.HashMap.empty[Long, Vals]
  private var keys: Array[Long] = Array.empty
  private var cdf: Array[Double] = Array.empty
  private var nextKey = 0L
  private var historyFirstMs = 0.0

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def entryModule: String = "sources"

  override def fsRoots: Seq[String] = Seq(path)

  private def canon(k: Long, v: Vals) = s"$k|${v._1}|${v._2}|${v._3}|${v._4}|${v._5}"

  private def canonRow(r: Row): String = canon(r.getLong(0),
    (r.getLong(1), r.getString(2), r.getDouble(3),
      r.getTimestamp(4).getTime, r.getString(5)))

  /** Zipf(1.1) over a seeded permutation of the initial keys. */
  private def zipfKey(): Long = {
    val u = rnd.nextDouble() * cdf.last
    val i = java.util.Arrays.binarySearch(cdf, u)
    keys(if (i >= 0) i else (-i - 1).min(keys.length - 1))
  }

  private def distinctKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += zipfKey()
    s.toSeq
  }

  def setup(): Unit = {
    spark.sql(s"""CREATE TABLE $table (o_orderkey BIGINT, o_custkey BIGINT,
      |o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP,
      |o_orderpriority STRING) CLUSTERED BY (o_orderkey) INTO 16 BUCKETS""".stripMargin)
    spark.sql(s"INSERT INTO $table SELECT * FROM parquet.`$input/hub_orders`")
    spark.read.parquet(s"$input/hub_orders").collect().foreach { r =>
      model(r.getLong(0)) = (r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4).getTime, r.getString(5))
    }
    keys = rnd.shuffle(model.keys.toSeq.sorted).toArray
    cdf = keys.indices.map(i => math.pow(i + 1.0, -1.1)).scanLeft(0.0)(_ + _).tail.toArray
    nextKey = model.keys.max + 1
    historyFirstMs = historyMs(spark, path)
    (0 until 11).foreach(i => op(-1 - i))
  }

  private def select(): OpResult = {
    val ks = distinctKeys(1 + rnd.nextInt(10))
    val got = spark.sql(s"SELECT * FROM $table WHERE o_orderkey IN (${ks.mkString(",")})")
      .collect().map(canonRow).toSet
    val want = ks.flatMap(k => model.get(k).map(canon(k, _))).toSet
    OpResult("select", ks.size, ok = got == want)
  }

  private def merge(): OpResult = {
    val ks = distinctKeys(50) ++ (nextKey until nextKey + 50)
    nextKey += 50
    val rows = ks.map { k =>
      val v: Vals = (1L + rnd.nextInt(15000), Seq("F", "O", "P")(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 5e7) / 100.0,
        1577836800000L + rnd.nextInt(2400) * 86400000L, s"${1 + rnd.nextInt(5)}-BENCH")
      model(k) = v
      Row(k, v._1, v._2, v._3, new java.sql.Timestamp(v._4), v._5)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .createOrReplaceTempView("bench_src")
    spark.sql(s"""MERGE INTO $table t USING bench_src s ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    OpResult("merge", rows.size)
  }

  private def update(): OpResult = {
    val ks = distinctKeys(1 + rnd.nextInt(20))
    spark.sql(s"""UPDATE $table SET o_totalprice = o_totalprice + 1.0,
      |o_orderstatus = 'U' WHERE o_orderkey IN (${ks.mkString(",")})""".stripMargin)
    val hit = ks.filter(model.contains)
    hit.foreach { k => val v = model(k); model(k) = v.copy(_2 = "U", _3 = v._3 + 1.0) }
    OpResult("update", hit.size)
  }

  private def delete(): OpResult = {
    val ks = distinctKeys(1 + rnd.nextInt(20))
    spark.sql(s"DELETE FROM $table WHERE o_orderkey IN (${ks.mkString(",")})")
    val hit = ks.filter(model.contains)
    hit.foreach(model.remove)
    OpResult("delete", hit.size)
  }

  private def call(proc: String): OpResult = {
    val args = if (proc == "vacuum") ", keep_versions => 4, retain_ms => 0" else ""
    spark.sql(s"CALL hub.system.$proc(`table` => 'orders'$args)").collect()
    OpResult(proc, 0L)
  }

  private val blockKinds = Seq.fill(5)("select") ++ Seq("merge", "merge", "update", "delete")
  private var block = Seq.empty[String]

  override def boundary(i: Int): Boolean = block.isEmpty

  def op(i: Int): OpResult = {
    if (block.isEmpty) {
      block = rnd.shuffle(blockKinds) ++ Seq("optimize", "vacuum")
    }
    val kind = block.head
    block = block.tail
    kind match {
      case "select" => select()
      case "merge" => merge()
      case "update" => update()
      case "delete" => delete()
      case proc => call(proc)
    }
  }

  def checks(): Seq[Check] = {
    val got = spark.sql(s"SELECT * FROM $table").collect().map(canonRow)
    val want = model.iterator.map { case (k, v) => canon(k, v) }.toSet
    Seq(Check("final_table", got.length == want.size && got.toSet == want,
      s"rows=${got.length} model=${want.size}"))
  }

  def extras(): Map[String, Any] = Map(
    "hub_space_amp" -> spaceAmp(spark, path),
    "history_ms_first" -> historyFirstMs,
    "history_ms_last" -> historyMs(spark, path),
    "versions" -> VersionedHub.history(spark, path).size)
}

/** One pass runs seven curation queries of `SparkEntry.queries` over the
  * generated corpus with a noop sink; the timed loop stops only at a pass
  * boundary, so every query is measured equally often. The reuse caches
  * are released before each pass, so every pass does the full work.
  */
final class CurationWorkload(spark: SparkSession, input: String, work: String)
    extends Workload {
  import Workloads._

  val names: Seq[String] = Seq("q_exact_dedup", "q_minhash_lsh_pairs",
    "q_dedup_survivors_lsh", "q_dup_spans", "q_semantic_dedup",
    "q_curation_multiclass", "q_token_budget_scaled")
  private var docs = 0L

  def entryModule: String = "queries"

  /** The warm-up pass writes each query's answer for the oracle check. */
  def setup(): Unit = {
    names.foreach { n =>
      SparkEntry.queries(n)(spark, input).write.mode("overwrite").parquet(s"$work/check/$n")
    }
    write(s"$work/check/oracle_sql.json",
      Json.write(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    docs = spark.read.parquet(s"$input/documents.parquet").count()
  }

  override def boundary(i: Int): Boolean = (i + 1) % names.size == 0
  override def unit(i: Int): Int = i / names.size
  override def between(i: Int): Unit =
    if (i % names.size == 0) graft.operators.Dedup.releaseReuseCaches()

  def op(i: Int): OpResult = {
    val n = names(i % names.size)
    SparkEntry.queries(n)(spark, input).write.format("noop").mode("overwrite").save()
    OpResult(n, docs)
  }

  def checks(): Seq[Check] = Nil

  def extras(): Map[String, Any] = Map("queries" -> names)
}
