package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Env, ModelRef, TableId}
import graft.llm.{ChunkStore, Forget, MinHashIndex}
import graft.materialize.{IncrementalLog, IncrementalLogConfig, MergeConfig,
  MergeIntoPartitioned}
import graft.operators.{ConnectedComponents, EdgeStore, LabelStore, SampleStore,
  TopKStore}
import graft.runlog.EventLog
import graft.streaming.StreamingIncremental
import graft.warehouse.Warehouse

final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val tracer: Tracer) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One workload: a set-up, a repeated op, and output checks. Op index `k`
  * counts from 0 over warm-up and timed ops alike. */
trait Workload {
  /** Builds inputs and the initial target or stores under a fresh `root`. */
  def setup(root: String): Unit
  /** Most ops the generated inputs cover. */
  def capacity: Int
  /** Untimed preparation for op `k` (landing its input files). */
  def prepare(k: Int): Unit = ()
  /** One op; returns the input rows it processed. */
  def op(k: Int): Long
  /** Checks of op `k`'s outputs, run untimed right after it. */
  def checkOp(k: Int): Seq[String] = Nil
  /** Checks of the final state after the last op. */
  def check(): Seq[String]
  /** Bytes of op `k`'s input batch, the base of write amplification. */
  def batchBytes(k: Int): Long = 0L
  /** Per-layer figures read from the final state. */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Workloads {
  val Names: Seq[String] =
    Seq("incremental_append", "stream_upsert", "store_lifecycle")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "incremental_append" => new IncrementalAppend(ctx)
    case "stream_upsert" => new StreamUpsert(ctx)
    case "store_lifecycle" => new StoreLifecycle(ctx)
  }

  /** Order-independent content hash of `cols`: (rows, sum of 40-bit row
    * hashes). */
  def rowHash(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(1L << 40))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private[perfbench] def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Total bytes of the files under `dir`. */
  def bytesUnder(spark: SparkSession, dir: String): Long =
    fsOf(spark, dir).getContentSummary(new Path(dir)).getLength

  /** Parquet data files under `dir`. */
  def parquetFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val it = fsOf(spark, dir).listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }
}

// ---- incremental_append ------------------------------------------------

/** The paper's A1 loop: one `IncrementalLog.run` per one-day window of a
  * seeded event source into a day-partitioned target, then a consumer's
  * 7-day aggregate through `Warehouse.read`. */
final class IncrementalAppend(ctx: Ctx) extends Workload {
  import ctx.spark
  val PerDay = 1000
  val InitialDays = 30
  val SourceDays = 70
  val ReadDays = 7

  private val src = TableId("bench", "raw", "events")
  private val tgt = TableId("bench", "bench_events_curated", "daily_events")
  private val ref = ModelRef("bench", "events", "curated", "daily_events")
  private val cfg = IncrementalLogConfig(runWindowColumn = "event_ts",
    partitionBy = Some("event_ts"))
  private var wh: Warehouse = _
  private var log: EventLog = _
  private var il: IncrementalLog = _
  private var runs = 0
  private var lastDay = 0
  private var readFailures = Vector.empty[String]

  def capacity: Int = SourceDays - InitialDays
  private def ts(day: Int) = lit(Gen.dayStart(day).stripSuffix(" UTC")).cast("timestamp")

  private def window(day: Int): Unit = {
    val now = Gen.dayStart(day)
    ctx.span("materialize.incremental_log.run") {
      il.run(() => wh.read(src), tgt, ref, Env.Prod, cfg, now = () => now)
    }
    runs += 1
    lastDay = day
  }

  def setup(root: String): Unit = {
    wh = new Warehouse(root, spark)
    log = new EventLog(wh, spark)
    il = new IncrementalLog(wh, log, spark)
    wh.overwrite(src, Gen.events(spark, ctx.seed, SourceDays, PerDay)
      .repartition(4).sortWithinPartitions("event_ts"))
    runs = 0
    window(InitialDays)
  }

  def op(k: Int): Long = {
    val day = InitialDays + 1 + k
    window(day)
    val n = ctx.span("warehouse.consumer_read") {
      wh.read(tgt).filter(col("event_ts") > ts(day - ReadDays))
        .groupBy(pmod(col("user_id"), lit(16L))).agg(count(lit(1)).as("n"), sum("value"))
        .collect().map(_.getLong(1)).sum
    }
    if (n != ReadDays.toLong * PerDay)
      readFailures :+= s"op $k: consumer read saw $n rows, expected ${ReadDays * PerDay}"
    PerDay
  }

  override def checkOp(k: Int): Seq[String] = { val f = readFailures; readFailures = Vector.empty; f }

  def check(): Seq[String] = {
    val cols = Seq("event_id", "event_ts", "user_id", "value", "payload")
    val expected = wh.read(src).filter(col("event_ts") <= ts(lastDay))
    val got = wh.read(tgt).select(cols.map(col): _*)
    val (n, h) = Workloads.rowHash(got, cols)
    val distinct = got.select("event_id").distinct().count()
    val lt = log.logTableFor(tgt, ref.domain)
    val events = log.readLog(lt)
    val byType = events.groupBy("eventType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lastEnd = events.filter(col("eventType") === "model_run_succeeded")
      .agg(max("runWindowEnd")).head().getTimestamp(0)
    Seq(
      Some(s"target rows/hash ($n, $h) differ from the source's events up to the " +
        "last window end").filter(_ => (n, h) != Workloads.rowHash(expected, cols)),
      Some(s"target holds $n rows but $distinct distinct events").filter(_ => n != distinct),
      Some(s"event log $byType is not 2 events per run over $runs runs").filter(_ =>
        byType != Map("model_run_started" -> runs.toLong, "model_run_succeeded" -> runs.toLong)),
      Some(s"last succeeded window end $lastEnd is not the last now ${Gen.dayStart(lastDay)}")
        .filter(_ => lastEnd == null || graft.core.Ts.format(lastEnd.toInstant) != Gen.dayStart(lastDay))
    ).flatten
  }

  override def layerExtras(): Map[String, Double] = Map("runlog.log_files" ->
    Workloads.parquetFiles(spark, wh.pathOf(log.logTableFor(tgt, ref.domain))).size.toDouble)
}

// ---- stream_upsert ------------------------------------------------------

/** One AvailableNow round of `streamingMergeUpsert` per op over
  * `FilesPerRound` newly landed batch files, one micro-batch per file, into
  * a 60-day target. The batches come pre-generated (`batch=<b>` directories,
  * one file each): about 90 % of keys update the newest day and 10 % arrive
  * late into the 7 days before it. */
final class StreamUpsert(ctx: Ctx) extends Workload {
  import ctx.spark
  val FilesPerRound = 3
  val Shape = Gen.MergeShape(days = 60, keysPerDay = 400, slots = 421,
    batchRows = 300, lateRows = 30, lateDays = 7)
  val Batches = 48
  val Cols = Seq("id", "event_time", "value", "note")
  private val tgt = TableId("bench", "sales", "orders")
  private val cfg = MergeConfig(partitionField = "event_time", uniqueKey = Seq("id"),
    eventTime = Some("event_time"))
  private var root: String = _
  private var wh: Warehouse = _
  /** Batches merged so far. */
  private var merged = 0

  private def batchDir(b: Int) = s"$root/batches/batch=$b"

  def setup(root: String): Unit = {
    this.root = root
    wh = new Warehouse(root, spark)
    Gen.mergeBatches(spark, ctx.seed, Shape, 1, Batches + 1)
      .repartition(col("batch")).write.partitionBy("batch").parquet(s"$root/batches")
    new MergeIntoPartitioned(wh, spark).run(Gen.mergeInitial(spark, ctx.seed, Shape), tgt, cfg)
    merged = 0
  }

  /** The MERGE's meaning stated independently in SQL: keys are day-scoped
    * (Gen), so every batch row meets its key's target row in a touched
    * partition, and the result is each key's newest version, the earliest
    * arrival winning a tie. */
  def mergeOracle(upTo: Int): DataFrame = {
    Gen.mergeInitial(spark, ctx.seed, Shape).createOrReplaceTempView("bench_init")
    spark.read.parquet(s"$root/batches").createOrReplaceTempView("bench_batches")
    spark.sql(
      s"""SELECT id, event_time, value, note FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id
         |           ORDER BY event_time DESC, arrival ASC) AS rn
         |  FROM (SELECT id, event_time, value, note, 0 AS arrival FROM bench_init
         |        UNION ALL
         |        SELECT id, event_time, value, note, batch AS arrival
         |        FROM bench_batches WHERE batch <= $upTo))
         |WHERE rn = 1""".stripMargin)
  }

  def check(): Seq[String] = {
    val got = Workloads.rowHash(wh.read(tgt), Cols)
    val want = Workloads.rowHash(mergeOracle(merged), Cols)
    Seq(s"target (rows, hash) $got differs from the MERGE oracle's $want after " +
      s"$merged batches").filter(_ => got != want)
  }

  private def landing = s"$root/landing"
  private def checkpoint = s"$root/checkpoint"

  def capacity: Int = Batches / FilesPerRound

  /** Lands the round's batch files with increasing modification times, so
    * the file source reads them in batch order. */
  override def prepare(k: Int): Unit = {
    val fs = Workloads.fsOf(spark, root)
    fs.mkdirs(new Path(landing))
    val t0 = System.currentTimeMillis()
    for (i <- 1 to FilesPerRound) {
      val b = k * FilesPerRound + i
      val Seq(file) = Workloads.parquetFiles(spark, batchDir(b))
      val dst = new Path(landing, f"batch-$b%05d.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, file, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(dst, t0 + i, -1)
    }
  }

  def op(k: Int): Long = {
    ctx.span("streaming.merge_upsert_round") {
      val q = StreamingIncremental.streamingMergeUpsert(spark, landing,
        spark.read.parquet(batchDir(1)).schema, wh, tgt, cfg, checkpoint,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    merged = (k + 1) * FilesPerRound
    FilesPerRound.toLong * Shape.batchRows
  }

  override def batchBytes(k: Int): Long = (1 to FilesPerRound)
    .map(i => Workloads.bytesUnder(spark, batchDir(k * FilesPerRound + i))).sum
}

// ---- store_lifecycle ----------------------------------------------------

/** The forget_docs store family over a seeded corpus. One op is one daily
  * cycle: append a fresh doc batch to the five appendable stores, take
  * down a seeded id set across all six (`chunkCompact = true`), audit.
  * Every cycle ingests and erases the same number of docs, so
  * `rows_per_s` does not depend on the seed. */
final class StoreLifecycle(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val InitialDocs = 600
  val BatchDocs = 40
  /** Live ids erased per cycle, besides one id of the new batch. */
  val DropsPerCycle = 12
  val Cycles = 12
  val TopKM = 50
  val SampleK = 40
  // every per-source summary keeps all its keys, so live counts are exact
  require(InitialDocs / Gen.Sources <= math.min(TopKM, SampleK))

  private var root: String = _
  private def store(n: String) = s"$root/stores/$n"
  private def corpusDay(d: Int) = s"$root/corpus/day=$d"
  private var ingested = 0L
  private var dropped = Set.empty[Long]
  private var audits = Vector.empty[(Int, Seq[Long], Array[Row])]

  def capacity: Int = Cycles

  private def alive(id: Long) = id < ingested && !dropped.contains(id)
  private def pairsDf(ps: Seq[(Long, Long)]) = ps.toDF("u", "v")
  private def initialPairs = Gen.pairs(0, InitialDocs)

  def setup(root: String): Unit = {
    this.root = root
    val total = InitialDocs + Cycles.toLong * BatchDocs
    Gen.docs(spark, ctx.seed, 0, total)
      .withColumn("day", when(col("doc_id") < InitialDocs, lit(0L))
        .otherwise(floor((col("doc_id") - InitialDocs) / BatchDocs).cast("long") + 1))
      .repartition(col("day")).write.partitionBy("day").parquet(s"$root/corpus")
    val docs = spark.read.parquet(corpusDay(0))
    val pairs = pairsDf(initialPairs)
    graft.core.Par.run(3)(Seq(
      () => ChunkStore.write(docs.select("doc_id", "text"), "text", "doc_id",
        store("chunk"), nBuckets = 8),
      () => MinHashIndex.write(docs.select("doc_id", "text"), "text", "doc_id",
        store("minhash"), nBuckets = 8),
      () => EdgeStore.write(pairs.withColumn("w", lit(1L)), "u", "v", Some("w"),
        store("edge"), nBuckets = 4),
      () => LabelStore.write(ConnectedComponents.run(pairs, "u", "v"), store("label"),
        nBuckets = 4),
      () => TopKStore.write(docs, Seq.empty, "doc_id", "source", store("topk"), m = TopKM),
      () => SampleStore.write(docs, Seq.empty, "doc_id", "source", store("sample"),
        kMax = SampleK)))
    ingested = InitialDocs
    dropped = Set.empty
  }

  def op(k: Int): Long = {
    val from = ingested
    val batch = spark.read.parquet(corpusDay(k + 1))
    val run = Some(s"day-$k")
    ctx.span("llm.store_ingest") {
      ctx.span("llm.chunk.append") {
        ChunkStore.append(batch.select("doc_id", "text"), "text", "doc_id", store("chunk"),
          nBuckets = 8, runId = run)
      }
      ctx.span("llm.minhash.append") {
        MinHashIndex.append(batch.select("doc_id", "text"), "text", "doc_id",
          store("minhash"), nBuckets = 8, runId = run)
      }
      ctx.span("operators.edge.append") {
        EdgeStore.append(pairsDf(Gen.pairs(from, from + BatchDocs)).withColumn("w", lit(1L)),
          "u", "v", Some("w"), store("edge"), nBuckets = 4, runId = run)
      }
      ctx.span("operators.topk.append") {
        TopKStore.append(batch, Seq.empty, "doc_id", "source", store("topk"), run.get)
      }
      ctx.span("operators.sample.append") {
        SampleStore.append(batch, Seq.empty, "doc_id", "source", store("sample"), run)
      }
    }
    val drops = Gen.dropSet(ctx.seed, k, (0L until from).filter(alive), from, BatchDocs,
      DropsPerCycle)
    ingested += BatchDocs
    dropped ++= drops
    val ids = drops.toDF("doc_id")
    val stores = Forget.Stores(
      chunk = Some(store("chunk")), minhash = Some(store("minhash")),
      edge = Some(store("edge")),
      label = Some(Forget.LabelTarget(store("label"),
        pairsDf(initialPairs.filter { case (u, v) => alive(u) && alive(v) }), "u", "v")),
      topk = Some(store("topk")), sample = Some(store("sample")))
    ctx.span("llm.forget") {
      Forget.forgetDocs(spark, ids, "doc_id", stores, chunkCompact = true,
        overlapStores = math.max(1, ctx.cores - 1))
    }
    val audit = ctx.span("llm.audit") { Forget.audit(spark, ids, "doc_id", stores).collect() }
    audits :+= ((k, drops, audit))
    BatchDocs + drops.size
  }

  /** Live counts the stores must report, computed from the inputs. */
  def expectedLive(): Map[String, Long] = {
    val docs = (0L until ingested).count(alive).toLong
    val batchPairs = (0 until ((ingested - InitialDocs) / BatchDocs).toInt)
      .flatMap(i => Gen.pairs(InitialDocs + i.toLong * BatchDocs,
        InitialDocs + (i + 1L) * BatchDocs))
    def live(ps: Seq[(Long, Long)]) = ps.filter { case (u, v) => alive(u) && alive(v) }
    Map("chunk" -> docs, "chunk_manifest" -> docs, "minhash" -> docs,
      "topk" -> docs, "sample" -> docs,
      "edge" -> live(initialPairs ++ batchPairs).size.toLong,
      "label" -> live(initialPairs).flatMap { case (u, v) => Seq(u, v) }.distinct.size.toLong)
  }

  override def checkOp(k: Int): Seq[String] = {
    val want = expectedLive()
    val out = audits.flatMap { case (op, drops, rows) =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val leaks = got.collect { case (s, (_, d)) if d != 0 => s"$s=$d" }
      val liveDiff = want.collect {
        case (s, n) if !got.get(s).map(_._1).contains(n) => s"$s: ${got.get(s).map(_._1)} != $n"
      }
      (if (leaks.isEmpty) Nil
       else Seq(s"op $op: audit of ${drops.size} ids found dropped ids in ${leaks.mkString(", ")}")) ++
        (if (liveDiff.isEmpty) Nil else Seq(s"op $op: live counts ${liveDiff.mkString("; ")}"))
    }
    audits = Vector.empty
    out
  }

  def check(): Seq[String] = Nil
}
