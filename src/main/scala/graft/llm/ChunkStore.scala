package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Content-addressed chunk store: [[Curation.cdcChunks]] materialized
  * into deduplicated storage — the rsync/LBFS/restic layout as a
  * corpus table format. Near-identical documents (crawl re-fetches,
  * versioned pages, boilerplate wrappers) share every chunk outside
  * their edit neighborhoods, so the store holds each distinct chunk
  * ONCE and documents become manifests of chunk hashes:
  *
  *  - `chunks/cb=<b>/…`  — (chunk_hash, chunk), one row per DISTINCT
  *    chunk, bucketed by a 16-bit prefix of the content hash (same
  *    bucket-directory family as [[MinHashIndex]] / the lexical index);
  *  - `manifest/…`       — (doc_id, chunk_idx, chunk_hash, seq),
  *    append-only; `seq` is the store-wide ingest sequence number;
  *  - `tombstones/…`     — (doc_id, seq) deletion markers;
  *  - `_store_meta.json` — {nBuckets, seq}: the bucket count the store
  *    was WRITTEN with (appends validate against it — a mismatched
  *    value would prune the wrong `cb=` buckets and silently duplicate
  *    chunks) and the last issued ingest sequence. Single-writer:
  *    concurrent appends would race on the sequence counter.
  *
  * Append cost tracks the BATCH, not the corpus: a new batch's chunks
  * dedup against only the `cb=` buckets its own hashes fall into
  * (planning-time PartitionFilters — the incremental-index discipline),
  * and within them via one LEFT ANTI join on chunk_hash.
  *
  * Re-ingest semantics are LATEST-RUN-WINS per document: each
  * write/append stamps its manifest rows with a fresh `seq`, and
  * [[reconstruct]] serves each doc_id from its highest manifest seq
  * only — a re-crawled page that lands in a later batch (the
  * [[graft.streaming.StreamingIncremental.streamingChunkIngest]] case)
  * replaces its earlier version instead of concatenating both runs'
  * chunks. [[deleteDocs]] tombstones documents at the next seq:
  * reconstruct/visible excludes them immediately, [[compact]] purges
  * their manifests and any chunks no surviving document references,
  * and a doc re-ingested after deletion (higher seq) is visible again. */
object ChunkStore {

  private def cb(hash: Column, n: Int): Column =
    pmod(conv(substring(hash, 1, 4), 16, 10).cast("long"), lit(n.toLong))

  // ---- store metadata -------------------------------------------------
  // All filesystem access goes through the store path's own Hadoop
  // FileSystem (NOT java.io): a store on HDFS — the target the compact
  // crash contract is written for — must honor metadata and tombstones
  // too, not just one on the driver's local disk.

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `nBuckets = 0` is the "unknown" sentinel: a legacy (pre-metadata)
    * store whose seq counter was started by [[deleteDocs]] — bucket
    * validation is skipped until a [[compact]] re-establishes it. */
  private def writeMeta(spark: SparkSession, path: String,
                        nBuckets: Int, seq: Long): Unit = {
    val (fs, _) = fsOf(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_store_meta.json__tmp")
    val live = new org.apache.hadoop.fs.Path(s"$path/_store_meta.json")
    val out = fs.create(tmp, true)
    try out.write(s"""{"nBuckets":$nBuckets,"seq":$seq}""".getBytes("UTF-8"))
    finally out.close()
    // install by OVERWRITE rename (FileContext — atomic replace on
    // HDFS/POSIX): a crash can leave the old meta or the new one, never
    // a truncated file or a missing-meta window that readMeta would
    // silently treat as "legacy store" (a delete-then-rename pair would
    // have exactly that window)
    org.apache.hadoop.fs.FileContext
      .getFileContext(live.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, live, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** (nBuckets, last issued seq) — None for a pre-metadata store. */
  private[llm] def readMeta(spark: SparkSession, path: String): Option[(Int, Long)] = {
    val (fs, _) = fsOf(spark, path)
    val live = new org.apache.hadoop.fs.Path(s"$path/_store_meta.json")
    if (!fs.exists(live)) None
    else {
      val in = fs.open(live)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toString("UTF-8")
      } finally in.close()
      val pat = """"nBuckets"\s*:\s*(\d+)\s*,\s*"seq"\s*:\s*(-?\d+)""".r.unanchored
      txt match {
        case pat(b, q) => Some((b.toInt, q.toLong))
        case _ => None
      }
    }
  }

  /** Validate the caller's bucket count against store metadata and
    * issue the next ingest sequence (legacy meta-less stores: seq 1;
    * the nBuckets=0 sentinel skips validation — see [[writeMeta]]). */
  private def nextSeq(spark: SparkSession, path: String,
                      nBuckets: Int, op: String): Long = {
    readMeta(spark, path) match {
      case Some((stored, seq)) =>
        require(stored == 0 || stored == nBuckets,
          s"ChunkStore.$op: store at $path was written with nBuckets=$stored, " +
            s"got $nBuckets — appending with a different bucket count would " +
            "prune the wrong cb= buckets and silently duplicate chunks")
        seq + 1
      case None => 1L
    }
  }

  /** Per-slot seq SIDECAR (`manifest/_slot_seq_<id>.json`): the seq a
    * run slot's first delivery stamped, recorded durably BEFORE the
    * slot's own mode(overwrite) lands. Reading the seq back out of the
    * slot's parquet rows is not crash-safe: a replay's overwrite
    * deletes the slot dir before its new rows commit, so a crash in
    * that window destroys the only copy of the original seq, the next
    * replay mints a fresh (higher) one, and a tombstone written
    * between the first delivery and the replay gets outranked —
    * exactly the resurrection this seq-reuse exists to prevent
    * (round-14 ADVICE). The sidecar lives at the manifest ROOT (a slot
    * overwrite must not clear it) with the `_` prefix (invisible to
    * parquet discovery); compact drops folded slots' sidecars with the
    * old manifest tree and carries partial slots' verbatim. */
  private def slotSeqPath(path: String, id: String) =
    new org.apache.hadoop.fs.Path(s"$path/manifest/_slot_seq_$id.json")

  private def writeSlotSeq(spark: SparkSession, path: String, id: String,
                           seq: Long): Unit = {
    val (fs, _) = fsOf(spark, path)
    val live = slotSeqPath(path, id)
    val tmp = new org.apache.hadoop.fs.Path(live.toString + "__tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"seq":$seq}""".getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(live.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, live, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readSlotSeq(spark: SparkSession, path: String,
                          id: String): Option[Long] = {
    val (fs, _) = fsOf(spark, path)
    val live = slotSeqPath(path, id)
    if (!fs.exists(live)) None
    else {
      val in = fs.open(live)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toString("UTF-8")
      } finally in.close()
      """"seq"\s*:\s*(-?\d+)""".r.unanchored.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
    }
  }

  /** The seq a run slot's FIRST delivery stamped, recovered from the
    * slot's own parquet rows — the pre-sidecar legacy fallback. A
    * REPLAY must reuse that seq, not mint a fresh one: a fresh
    * (higher) seq would outrank any tombstone that landed between the
    * first delivery and the replay, silently RESURRECTING deleted
    * documents (the at-least-once × out-of-band-delete corner; with
    * the original seq the replay is byte-identical to the first
    * delivery and the tombstone keeps winning). The durable
    * [[slotSeqPath]] sidecar is authoritative — it survives a crash
    * DURING a replay's own overwrite (slot dir deleted, rows not yet
    * landed), the one window where this read cannot; [[appendSlot]]
    * reads the sidecar ONCE and falls back here only when it is
    * absent. A slot with neither (crash mid-FIRST-write, before the
    * sidecar) reports None and the replay mints normally — nothing
    * could have observed the torn first attempt's seq. */
  private def legacySlotSeq(spark: SparkSession, path: String,
                            id: String): Option[Long] = {
    val (fs, p) = fsOf(spark, s"$path/manifest/run=$id")
    if (!fs.exists(p)) None
    else try {
      Some(spark.read.parquet(p.toString).select("seq").head().getLong(0))
    } catch {
      // ONLY the expected shapes of a torn first write degrade to
      // minting fresh (the slot is overwritten whole either way): an
      // unreadable/schemaless parquet dir or zero rows. A transient
      // IO/FS error must PROPAGATE — swallowing it would mint a fresh
      // seq and reopen the tombstone-resurrection window this method
      // exists to close (round-14 review)
      case _: org.apache.spark.sql.AnalysisException => None
      case _: NoSuchElementException => None
    }
  }

  /** Names of compact/gc crash wreckage present at the store — the
    * directories whose presence the repair ops use to decide the
    * interrupted op's phase. Ingest (append/delete) and the OTHER
    * maintenance op refuse while any exist: traffic landing on
    * wreckage can forge the phase observables (r16 review #1/#2), and
    * a compact staging over gc wreckage would read a bucket whose
    * survivors live only in the underscore-invisible `_gc_old_*`
    * backup — the staged tree would drop them and the install would
    * delete the backup. Cost: three exists probes and one listing of
    * the chunks root per call. */
  private def wreckage(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, _) = fsOf(spark, path)
    val compactLeft = Seq("manifest__compact_old", "chunks__compact_old",
        "tombstones__compact_parked")
      .filter(n => fs.exists(new Path(s"$path/$n")))
    val chRoot = new Path(s"$path/chunks")
    val gcLeft =
      if (!fs.exists(chRoot)) Nil
      else fs.listStatus(chRoot).toSeq.map(_.getPath.getName)
        .filter(n => n == "_gc_tmp" || n.startsWith("_gc_old_"))
        .map(n => s"chunks/$n")
    compactLeft ++ gcLeft
  }

  private def requireNoWreckage(spark: SparkSession, path: String,
                                op: String): Unit = {
    val left = wreckage(spark, path)
    require(left.isEmpty,
      s"ChunkStore.$op: crash wreckage ${left.sorted.mkString(", ")} " +
        s"under $path — run ChunkStore.repairCompact / repairGc before " +
        "any further writes (traffic landing on wreckage can forge the " +
        "phase observables the repair relies on)")
  }

  // ---- ingest ---------------------------------------------------------

  /** Build the store from scratch (an existing store at `path` is
    * removed first: under dynamic partition overwrite a partitioned
    * re-write would only clear the buckets it touches, silently keeping
    * stale chunks and manifests). */
  def write(docs: DataFrame, textCol: String, idCol: String, path: String,
            nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "ChunkStore.write: nBuckets must be positive")
    val spark = docs.sparkSession
    val (fs, root) = fsOf(spark, path)
    if (fs.exists(root)) fs.delete(root, true)
    val ch = Curation.cdcChunks(docs, textCol, idCol).persist()
    ch.groupBy("chunk_hash").agg(first(col("chunk")).as("chunk"))
      .withColumn("cb", cb(col("chunk_hash"), nBuckets))
      .repartition(col("cb"))
      .write.mode("overwrite").partitionBy("cb").parquet(s"$path/chunks")
    ch.select(col(idCol).as("doc_id"), col("chunk_idx"), col("chunk_hash"),
        lit(0L).as("seq"))
      .write.mode("overwrite").parquet(s"$path/manifest/run=__base__")
    ch.unpersist()
    writeMeta(spark, path, nBuckets, 0L)
  }

  /** Append a batch: manifests land whole; chunk rows are stored only
    * for hashes the store has never seen. The anti-join's store side is
    * pruned to the batch's own `cb=` buckets — a planning-time
    * PartitionFilter, so the append never scans the full chunk table.
    *
    * `runId` scopes the manifest write to `manifest/run=<id>` with
    * OVERWRITE — an idempotent retry slot (the streaming ingest passes
    * its micro-batch id, so a replayed batch rewrites its own manifests
    * instead of duplicating them; a replay's chunk rows anti-join away
    * against the first attempt's). Without it the manifest is a plain
    * append. A store mixes the two freely: `run=` is a partition value,
    * and bare appends land under `run=__adhoc__`.
    *
    * `nBuckets` must match the value the store was written with
    * (validated against `_store_meta.json`); each append stamps its
    * manifest rows with the next store-wide `seq`, so a document
    * re-ingested here supersedes its earlier manifests at
    * [[reconstruct]] time. Single-writer assumption. */
  def append(batch: DataFrame, textCol: String, idCol: String, path: String,
             nBuckets: Int = 64, runId: Option[String] = None): Unit = {
    // with the fold manifest, collapse semantics apply here exactly as
    // in the additive stores: a manual append reusing the b<digits>
    // stream namespace could be silently no-op'd by a folded
    // high-water mark — streams mint via [[appendBatch]]
    RunSlots.requireNamedRunId(runId, "ChunkStore.append")
    appendSlot(batch, textCol, idCol, path, nBuckets, runId)
  }

  /** [[append]] for the store's single checkpointed stream: mints the
    * reserved `b<batchId>` run id from the foreachBatch micro-batch id
    * (exactly-once under replay: slot overwrite + seq reuse + the fold
    * manifest's whole-append no-op after a mid-stream compact). */
  def appendBatch(batch: DataFrame, textCol: String, idCol: String,
                  path: String, nBuckets: Int, batchId: Long): Unit =
    appendSlot(batch, textCol, idCol, path, nBuckets, Some(s"b$batchId"))

  private def appendSlot(batch: DataFrame, textCol: String, idCol: String,
                         path: String, nBuckets: Int,
                         runId: Option[String]): Unit = {
    val spark = batch.sparkSession
    // a run id the fold manifest records is a WHOLE-APPEND no-op: its
    // manifests were folded into run=__base__ (tombstoned docs
    // excluded, tombstones cleared) and its chunk bytes are either
    // retained by the fold or deliberately purged — re-landing either
    // would undo a delete that happened before the compact (round-14
    // review: compact-at-restart used to purge the slot, then the
    // replay minted a fresh seq and RESURRECTED deleted docs)
    if (runId.exists(id => RunSlots
        .foldedRuns(spark, s"$path/manifest")
        .contains(RunSlots.validate(id)))) return
    // ingest must not land on crash wreckage: the repair ops decide
    // the interrupted op's phase from directory presence, and a
    // concurrent append can forge exactly those observables — e.g.
    // recreating a gc'd bucket dir makes repairGc read "install
    // complete" and DELETE the backup holding every pre-crash survivor
    // of that bucket, and a new run slot flips repairCompact's
    // carried-partial decision so it un-parks stale tombstones over
    // the folded seq-0 base (r16 review findings #1/#2). Refusing here
    // makes crash→repair quiescence STRUCTURAL instead of operator
    // discipline; a streaming batch that hits this fails loudly and
    // replays cleanly after the repair.
    requireNoWreckage(spark, path, "append")
    // a REPLAY of an existing run slot reuses its first delivery's seq
    // (see legacySlotSeq — a fresh seq would let the replay outrank
    // a tombstone written in between and resurrect deleted docs);
    // nextSeq still runs first for its nBuckets validation. The sidecar
    // is read ONCE and threaded into both the seq choice and the
    // backfill guard below (the second read per micro-batch was a
    // measurable slice of the r15 stream_chunkstore regression).
    val minted = nextSeq(spark, path, nBuckets, "append")
    val sidecarSeq = runId.flatMap(readSlotSeq(spark, path, _))
    val seq = sidecarSeq
      .orElse(runId.flatMap(legacySlotSeq(spark, path, _)))
      .getOrElse(minted)
    // record the slot's seq DURABLY before the slot overwrite below: a
    // crash mid-overwrite deletes the slot dir before new rows land,
    // and without the sidecar the next replay would mint fresh and
    // reopen the resurrection window (round-14 ADVICE). Also backfills
    // the sidecar for a pre-sidecar legacy slot being replayed (seq
    // recovered from its parquet rows this one time). When the seq is
    // freshly MINTED, the meta high-water mark advances durably BEFORE
    // the sidecar lands: the sidecar outlives a torn append, so a crash
    // in the old order (sidecar durable, meta not yet advanced)
    // followed by an independent append would re-issue the same seq —
    // the torn slot's later replay then TIES with that committed run
    // and latest-run-wins resolution becomes arbitrary for docs in
    // both (r15 ADVICE). Advancing first burns the seq at worst.
    var metaAdvanced = false
    runId.foreach { id =>
      if (sidecarSeq.isEmpty) {
        if (seq == minted) {
          writeMeta(spark, path, nBuckets, minted)
          metaAdvanced = true
        }
        writeSlotSeq(spark, path, id, seq)
      }
    }
    // standing takedown protection: a NEW batch containing a
    // since-forgotten doc must not re-land it (tombstones lose to any
    // higher-seq append — latest-run-wins); identity when no denylist
    val kept = Denylist.exclude(batch, idCol, spark, path)
    val ch = Curation.cdcChunks(kept, textCol, idCol).persist()
    val newChunks = ch.groupBy("chunk_hash").agg(first(col("chunk")).as("chunk"))
      .withColumn("cb", cb(col("chunk_hash"), nBuckets))
      .persist()
    val touched = newChunks.select("cb").distinct()
      .collect().map(_.getLong(0)).sorted // bounded: <= nBuckets values
    // a store seeded from an empty corpus has no cb= dirs yet (parquet
    // cannot persist a zero-file schema) — treat it as zero known hashes
    val (chFs, chRoot) = fsOf(spark, s"$path/chunks")
    val chunkDirs = chFs.exists(chRoot) && chFs.listStatus(chRoot)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("cb="))
    val existing =
      if (chunkDirs)
        spark.read.parquet(s"$path/chunks")
          .filter(col("cb").isin(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(touched): _*))
          .select("chunk_hash")
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("chunk_hash",
              org.apache.spark.sql.types.StringType))))
    newChunks.join(existing, Seq("chunk_hash"), "left_anti")
      .repartition(col("cb"))
      .write.mode("append").partitionBy("cb").parquet(s"$path/chunks")
    val man = ch.select(col(idCol).as("doc_id"), col("chunk_idx"),
      col("chunk_hash"), lit(seq).as("seq"))
    runId match {
      case Some(id) =>
        man.write.mode("overwrite").parquet(s"$path/manifest/run=$id")
      case None =>
        man.write.mode("append").parquet(s"$path/manifest/run=__adhoc__")
    }
    newChunks.unpersist(); ch.unpersist()
    // the counter only ever advances: a replay reusing an old slot seq
    // must not rewind it below sequences already issued since. Single-
    // writer, so the stored value is still `minted - 1` unless this
    // call advanced it above — skip the redundant read+write when the
    // high-water mark is already current (replays reuse seq <= minted-1;
    // the freshly-minted slot case wrote `minted` before its sidecar).
    // The `seq >= minted` leg covers the adhoc path (seq == minted) and
    // a legacy sidecar minted ahead of the meta by the pre-r16 order.
    if (!metaAdvanced && seq >= minted)
      writeMeta(spark, path, nBuckets, seq)
  }

  /** Tombstone documents: [[reconstruct]] and [[stats]]' visible side
    * exclude them immediately (no store rewrite), [[compact]] purges
    * their manifests and any chunks only they referenced. The marker
    * carries the next ingest seq, so a doc RE-INGESTED after deletion
    * outranks its tombstone and becomes visible again. */
  def deleteDocs(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    // same quiescence rule as appendSlot: a tombstone issued on top of
    // compact wreckage would be deleted by repairCompact's
    // roll-forward (which clears the markers the INTERRUPTED compact
    // had already applied — it cannot tell a post-crash deletion from
    // a stale one), silently undoing the takedown (r16 review #2)
    requireNoWreckage(spark, path, "deleteDocs")
    val meta = readMeta(spark, path)
    val seq = meta.map(_._2 + 1).getOrElse(1L)
    ids.select(col(idCol).as("doc_id")).distinct()
      .withColumn("seq", lit(seq))
      .write.mode("append").parquet(s"$path/tombstones")
    // ALWAYS advance the counter — on a legacy meta-less store this
    // creates meta with the nBuckets=0 "unknown" sentinel, so the next
    // append gets seq 2 and a delete-then-re-ingest revives the doc
    // (seq 1 vs 1 would keep it hidden forever and compact would purge
    // the re-ingested content)
    writeMeta(spark, path, meta.map(_._1).getOrElse(0), seq)
  }

  private def tombstonesOpt(spark: SparkSession, path: String): Option[DataFrame] = {
    val (fs, p) = fsOf(spark, s"$path/tombstones")
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      Some(spark.read.parquet(s"$path/tombstones"))
    else None
  }

  /** The LIVE manifest: per doc_id, the rows of its highest-seq ingest
    * (latest-run-wins — re-crawled pages replace, never concatenate),
    * minus documents whose newest marker is a tombstone. Legacy
    * manifests without a seq column read as seq 0 — a LEGACY store
    * where the same doc was ingested in several runs with DIFFERING
    * content is inherently ambiguous (all runs tie at seq 0; the
    * per-(doc, idx) pick is arbitrary and such a doc's reconstruction
    * is unreliable — exact re-ingests are unaffected, any pick is the
    * same bytes). [[compact]] collapses a legacy store into a
    * self-describing seq-0 baseline, deterministic from then on. */
  private def visibleManifest(spark: SparkSession, path: String): DataFrame =
    manifestAt(spark, path, Long.MaxValue)

  /** [[visibleManifest]] over an explicit manifest source — compact
    * passes the partial-slot-excluding read so half-written manifests
    * can never be folded into the base. */
  private def visibleManifestFrom(spark: SparkSession, path: String,
                                  raw: DataFrame): DataFrame =
    manifestFrom(spark, path, raw, Long.MaxValue)

  /** The manifest table read that EXCLUDES partial slots (no `_SUCCESS`
    * — a crash mid-append of the batch about to be REPLAYED), plus the
    * partial slot paths themselves. Every maintenance op that derives
    * durable state from the manifests (compact's fold, gc's liveness)
    * must read through this: under latest-run-wins a torn higher-seq
    * slot SHADOWS a doc's committed version, so folding it would freeze
    * half-written manifests and gc'ing against it would collect the
    * committed version's bytes — if the operator then removes the
    * partial slot instead of replaying it, the doc resolves back to a
    * version whose chunks are gone (round-14 ADVICE). */
  private def committedManifestRead(spark: SparkSession, path: String,
                                    op: String)
      : (DataFrame, Seq[org.apache.hadoop.fs.Path]) = {
    import org.apache.hadoop.fs.Path
    val manRoot = new Path(s"$path/manifest")
    val fs = manRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (committedSlots, partialSlots) = IvfLayout.replayableSlots(fs, manRoot)
    val src =
      if (partialSlots.isEmpty) spark.read.parquet(manRoot.toString)
      else {
        val reserved = fs.listStatus(manRoot).toSeq.map(_.getPath)
          .filter(p => p.getName == s"run=${RunSlots.Base}" ||
            p.getName == s"run=${RunSlots.Adhoc}")
        val readable = reserved ++ committedSlots
        require(readable.nonEmpty,
          s"ChunkStore.$op: every manifest slot at $manRoot is " +
            "missing its _SUCCESS marker (crash wreckage, or " +
            "mapreduce.fileoutputcommitter.marksuccessfuljobs=false) — " +
            "nothing committed to fold or collect from; refusing " +
            "rather than trusting partial manifests")
        spark.read.option("basePath", manRoot.toString)
          .parquet(readable.map(_.toString): _*)
      }
    (src, partialSlots)
  }

  /** Does `dir` hold any real data file (committer markers and other
    * `_`/`.` names ignored)? A partial slot can be an empty shell. */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext) {
      val n = it.next().getPath.getName
      found = !n.startsWith("_") && !n.startsWith(".")
    }
    found
  }

  /** Every chunk_hash a partial (about-to-be-replayed) slot references:
    * those docs keep resolving from the torn slot until the replay, so
    * their bytes must be treated as live by compact and gc alike. */
  private def partialSlotHashes(spark: SparkSession, manRoot: String,
                                fs: org.apache.hadoop.fs.FileSystem,
                                partialSlots: Seq[org.apache.hadoop.fs.Path])
      : Option[DataFrame] = {
    val readable = partialSlots.filter(hasDataFiles(fs, _))
    if (readable.isEmpty) None
    else Some(spark.read.option("basePath", manRoot)
      .parquet(readable.map(_.toString): _*)
      .select("chunk_hash"))
  }

  /** [[visibleManifest]] generalized to a POINT IN TIME: the manifest as
    * it was visible when `upTo` was the newest issued sequence (manifest
    * rows and tombstones with seq > upTo ignored). */
  private def manifestAt(spark: SparkSession, path: String, upTo: Long): DataFrame =
    manifestFrom(spark, path, spark.read.parquet(s"$path/manifest"), upTo)

  private def manifestFrom(spark: SparkSession, path: String,
                           raw: DataFrame, upTo: Long): DataFrame = {
    val man0 = if (raw.columns.contains("seq")) raw
               else raw.withColumn("seq", lit(0L))
    val man = man0.filter(col("seq") <= upTo)
    val latest = man
      .withColumn("_mx", max(col("seq")).over(Window.partitionBy("doc_id")))
      .filter(col("seq") === col("_mx"))
      // same-(doc,idx) duplicates within one seq can only come from a
      // batch that carried the same doc_id twice — keep one arbitrarily
      .dropDuplicates("doc_id", "chunk_idx")
      .drop("_mx")
    tombstonesOpt(spark, path) match {
      case None => latest
      case Some(tomb0) =>
        val tomb = tomb0.filter(col("seq") <= upTo)
        // broadcast only under the denylist byte ceiling (sized by the
        // marker dir's parquet bytes — one metadata listing, and dir
        // bytes bound the per-doc aggregate from above): markers
        // accumulate between compacts, and a decade of deletions must
        // cost a shuffle, never a driver OOM
        val tmax = Denylist.sizedByBytes(spark,
          tomb.groupBy("doc_id").agg(max(col("seq")).as("_tseq")),
          Denylist.dirBytes(spark, s"$path/tombstones"))
        latest.join(tmax, Seq("doc_id"), "left")
          .filter(col("_tseq").isNull || col("seq") > col("_tseq"))
          .drop("_tseq")
    }
  }

  /** Reassemble (doc_id, text) for every LIVE manifested document — the
    * byte-exact inverse of [[write]]/[[append]] for non-empty texts
    * (empty documents chunk to nothing and are not manifested). One
    * equi-join on the content hash + one per-doc reassembly shuffle. */
  def reconstruct(spark: SparkSession, path: String): DataFrame = {
    val man = visibleManifest(spark, path)
    val ch = spark.read.parquet(s"$path/chunks").select("chunk_hash", "chunk")
    man.join(ch, "chunk_hash")
      .groupBy("doc_id")
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(chunk_idx, chunk))), x -> x.chunk)"))
        .as("text"))
  }

  /** SELECTIVE reconstruction: (doc_id, text) for only `ids` — random
    * access over the deduplicated store. Reads the manifests (rows, not
    * chunk bytes), then ONLY the `cb=` chunk buckets the requested
    * docs' hashes fall into (planning-time PartitionFilter, the append
    * prune in reverse): serving a handful of documents from a
    * petabyte store scans a handful of buckets, not the chunk table.
    * Same latest-run-wins / tombstone semantics as [[reconstruct]].
    * Legacy stores with unknown bucketing (no metadata) fall back to an
    * unpruned chunk read — correct, just not pruned. The result is
    * MATERIALIZED (eager localCheckpoint) so the internal manifest
    * cache can be released. */
  def reconstructDocs(spark: SparkSession, path: String,
                      ids: DataFrame, idCol: String): DataFrame = {
    // requested-id set size-guarded like every other caller-supplied id
    // frame: a handful of docs pins a broadcast semi, a bulk
    // re-extraction of millions degrades to a shuffle, never a driver OOM
    val want0 = ids.select(col(idCol).as("doc_id")).distinct()
    val want = Denylist.sizedByCount(spark, want0, want0.count())
    val man = visibleManifest(spark, path)
      .join(want, Seq("doc_id"), "left_semi")
      .persist()
    val chRaw = spark.read.parquet(s"$path/chunks")
    val ch = readMeta(spark, path).map(_._1).filter(_ > 0) match {
      case Some(nb) =>
        val touched = man.select(cb(col("chunk_hash"), nb).as("cb"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted // <= nb values
        val lits: Seq[Any] = chRaw.schema("cb").dataType match {
          case org.apache.spark.sql.types.LongType => touched
          case org.apache.spark.sql.types.IntegerType => touched.map(_.toInt)
          case _ => touched.map(_.toString)
        }
        chRaw.filter(col("cb").isin(lits: _*)).select("chunk_hash", "chunk")
      case None => chRaw.select("chunk_hash", "chunk")
    }
    val out = man.join(ch, "chunk_hash")
      .groupBy("doc_id")
      .agg(concat_ws("", expr(
        "transform(array_sort(collect_list(struct(chunk_idx, chunk))), x -> x.chunk)"))
        .as("text"))
      .localCheckpoint(true)
    man.unpersist()
    out
  }

  /** Storage accounting: PHYSICAL manifest/chunk rows and bytes (what
    * is on disk, superseded runs and tombstoned docs included — compact
    * is what reclaims them) plus the LIVE manifest row count
    * (`live_manifest_chunks`, what reconstruct would serve) — the
    * manifest−live gap is the reclaimable debt that decides when a
    * compact pays. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val man = spark.read.parquet(s"$path/manifest")
    val ch = spark.read.parquet(s"$path/chunks")
    man.agg(count(lit(1)).as("manifest_chunks"))
      .crossJoin(ch.agg(count(lit(1)).as("stored_chunks"),
        sum(length(col("chunk"))).cast("long").as("stored_chars")))
      .crossJoin(visibleManifest(spark, path)
        .agg(count(lit(1)).as("live_manifest_chunks")))
  }

  /** Corpus-version diff over the deduplicated store: compare the
    * documents visible at ingest sequence `seqA` against those visible
    * at `seqB` (default: now) WITHOUT reconstructing any text — the
    * manifests already carry content identity (the ordered chunk-hash
    * list concatenates to the exact document bytes, so list equality IS
    * text equality). Returns one row per touched document:
    * (doc_id, status ∈ added|removed|changed|unchanged,
    *  chunks_added, chunks_removed) where the chunk churn is the
    * per-doc content-multiset delta — the "how much actually changed"
    * accounting a crawl-over-crawl snapshot diff publishes.
    *
    * Scale posture: two manifest scans (manifest rows, never chunk
    * bytes), one full-outer equi-join per doc for status, one
    * (doc, hash)-count full-outer join for churn — all hash-joinable,
    * no text moves. Cost tracks manifest size; at 100 TB of text the
    * manifests are ~1000× smaller than the corpus.
    *
    * Sequence numbering: [[write]] is the seq-0 baseline, the first
    * [[append]]/[[deleteDocs]] is seq 1 — `diff(spark, path, 0L)` is
    * "everything since the initial build". */
  def diff(spark: SparkSession, path: String, seqA: Long,
           seqB: Long = Long.MaxValue): DataFrame = {
    require(seqA <= seqB,
      s"ChunkStore.diff: seqA ($seqA) must not exceed seqB ($seqB) — " +
        "statuses are defined A→B (added = present only at B)")
    def docsAt(s: Long) = manifestAt(spark, path, s)
      .select("doc_id", "chunk_idx", "chunk_hash")
    val a = docsAt(seqA)
    val b = docsAt(seqB)
    // ordered-list signature per doc: md5 over the idx-sorted hash list
    def sig(m: DataFrame) = m.groupBy("doc_id")
      .agg(md5(concat_ws(",", expr(
        "transform(array_sort(collect_list(struct(chunk_idx, chunk_hash))), x -> x.chunk_hash)")))
        .as("sig"))
    val status = sig(a).withColumnRenamed("sig", "sig_a")
      .join(sig(b).withColumnRenamed("sig", "sig_b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("sig_a").isNull, lit("added"))
          .when(col("sig_b").isNull, lit("removed"))
          .when(col("sig_a") === col("sig_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
    // content-multiset churn per doc
    def cnt(m: DataFrame, as: String) = m.groupBy("doc_id", "chunk_hash")
      .agg(count(lit(1)).as(as))
    val churn = cnt(a, "na")
      .join(cnt(b, "nb"), Seq("doc_id", "chunk_hash"), "full_outer")
      .select(col("doc_id"),
        greatest(coalesce(col("nb"), lit(0L)) - coalesce(col("na"), lit(0L)), lit(0L)).as("ca"),
        greatest(coalesce(col("na"), lit(0L)) - coalesce(col("nb"), lit(0L)), lit(0L)).as("cr"))
      .groupBy("doc_id")
      .agg(sum("ca").as("chunks_added"), sum("cr").as("chunks_removed"))
    status.join(churn, Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"),
        coalesce(col("chunks_added"), lit(0L)).as("chunks_added"),
        coalesce(col("chunks_removed"), lit(0L)).as("chunks_removed"))
  }

  /** Refcounted chunk garbage collection — the TARGETED complement of
    * [[compact]] (r13 verdict "What's missing #2"): compact rewrites
    * the manifest AND the whole chunk tree; gc rewrites ONLY the `cb=`
    * buckets that actually hold unreferenced chunk BYTES (deleted
    * docs' unique chunks, superseded versions' orphans) and leaves
    * clean buckets untouched. At 100 TB that is a manifest scan plus a
    * rewrite proportional to the garbage's buckets, not a full-store
    * rewrite — the erasure path for the one store whose data is
    * hash-addressed rather than part-partitioned
    * ([[graft.operators.StoreRetention]] covers the others).
    *
    * A chunk is LIVE iff some row of the VISIBLE manifest references
    * it (latest-run-wins, tombstones applied). A chunk shared by a
    * deleted and a surviving document is live and survives; a chunk
    * referenced only by deleted/superseded versions is collected. gc
    * never touches manifests or tombstones — purging dead manifest
    * ROWS stays [[compact]]'s job; after gc the erasure-relevant part
    * (the bytes) is gone.
    *
    * Crash contract: every dirty bucket's surviving rows are STAGED
    * under `chunks/_gc_tmp/cb=<b>` first (underscore prefix —
    * invisible to readers), then installed bucket-by-bucket
    * (backup-rename to `chunks/_gc_old_cb=<b>`, move, drop backup).
    * The install loop is PREFIX-ATOMIC per bucket and every
    * intermediate state serves correctly — an un-swapped bucket merely
    * still holds dead chunks no visible manifest joins to. A leftover
    * `_gc_tmp`/`_gc_old_*` makes the next gc refuse loudly
    * (restore-or-remove remedy); re-running after cleanup completes
    * the collection (idempotent: liveness is recomputed from the
    * manifests each time).
    *
    * Single-writer like every maintenance op here: a gc concurrent
    * with an append could collect chunks the append just
    * de-duplicated against (its manifest rows land after its chunk
    * write). Refuses when NO document survives — installing an empty
    * chunk tree would break every later read; delete or rebuild the
    * store instead.
    *
    * @return (buckets rewritten, chunk rows collected) */
  def gc(spark: SparkSession, path: String): (Int, Long) =
    // single-writer ENFORCED via the store-root lease (r14 verdict): a
    // gc concurrent with an append could collect chunks the append just
    // de-duplicated against, and two gcs would race the bucket installs
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"chunk store $path")(gcLocked(spark, path))

  private def gcLocked(spark: SparkSession, path: String): (Int, Long) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    graft.warehouse.Warehouse.requireAtomicRename(
      Option(fs.getScheme).getOrElse(""),
      spark.conf.getOption("spark.graft.warehouse.allowNonAtomicRename")
        .exists(_.equalsIgnoreCase("true")))
    val chRoot = new Path(s"$path/chunks")
    require(fs.exists(chRoot), s"ChunkStore.gc: no chunk tree at $path")
    val tmpRoot = new Path(chRoot, "_gc_tmp")
    val leftovers = fs.listStatus(chRoot).toSeq
      .map(_.getPath.getName)
      .filter(n => n == "_gc_tmp" || n.startsWith("_gc_old_"))
    require(leftovers.isEmpty,
      s"ChunkStore.gc: leftover ${leftovers.sorted.mkString(", ")} under " +
        s"$chRoot from an interrupted gc — run ChunkStore.repairGc " +
        "(or restore the _gc_old_* buckets over their cb= dirs by hand) " +
        "before re-running")
    // COMPACT wreckage also refuses: gc over a half-installed compact
    // would compute liveness against one generation and rewrite the
    // other (r16 review)
    requireNoWreckage(spark, path, "gc")

    // liveness from the COMMITTED slots' visible manifest, unioned with
    // every hash a partial slot references — the compact discipline
    // (round-14 ADVICE): a torn higher-seq slot shadows a doc's
    // committed version under latest-run-wins, so a liveness read over
    // ALL slots would let gc collect the committed version's exclusive
    // bytes; if the operator then removes the partial slot instead of
    // replaying it, the doc resolves back to a version whose bytes are
    // gone — permanent silent truncation. The partial slot's own hashes
    // stay live too: its docs keep resolving from it until the replay.
    val (manSrc, partialSlots) = committedManifestRead(spark, path, "gc")
    val committedLive = visibleManifestFrom(spark, path, manSrc)
      .select("chunk_hash")
    // eager localCheckpoint, not persist: the liveness set feeds BOTH
    // the census anti-join and the staging semi-join, and a persist
    // would embed the manifest window plan in both consumers' trees —
    // every AQE stage re-optimization then walks it twice (the same
    // multi-reference blow-up the CC pair checkpoint removed)
    val live = partialSlotHashes(spark, s"$path/manifest", fs, partialSlots)
      .map(committedLive.unionByName(_)).getOrElse(committedLive)
      .distinct().localCheckpoint(true)
    require(!live.isEmpty,
      s"ChunkStore.gc: no document survives at $path — collecting would " +
        "leave an empty chunk tree that breaks every later read; delete " +
        "or rebuild the store instead")
    val chunks = spark.read.parquet(chRoot.toString)
    // per-bucket garbage census: |<= nBuckets| rows to the driver
    val dirty = chunks.select("cb", "chunk_hash")
      .join(live, Seq("chunk_hash"), "left_anti")
      .groupBy("cb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
    if (dirty.isEmpty) return (0, 0L)
    val collected = dirty.map(_._2).sum

    // stage the dirty buckets' SURVIVING rows (explicit bucket paths —
    // a planning-time prune; clean buckets are never read or written)
    val dirtyNames = dirty.map { case (b, _) => s"cb=$b" }.toSet
    val dirtyPaths = fs.listStatus(chRoot).toSeq
      .filter(s => s.isDirectory && dirtyNames(s.getPath.getName))
      .map(_.getPath)
    require(dirtyPaths.size == dirtyNames.size,
      s"ChunkStore.gc: bucket census named ${dirtyNames.size} dirty " +
        s"buckets but only ${dirtyPaths.size} exist on disk (concurrent " +
        "writer?)")
    fs.delete(tmpRoot, true)
    spark.read.option("basePath", chRoot.toString)
      .parquet(dirtyPaths.map(_.toString): _*)
      .join(live, Seq("chunk_hash"), "left_semi")
      .repartition(col("cb")).sortWithinPartitions("chunk_hash")
      .write.partitionBy("cb").parquet(tmpRoot.toString)

    // install per bucket: backup-rename, move staged (or plain delete
    // when the whole bucket was garbage), drop backup — prefix-atomic
    dirtyNames.toSeq.sorted.foreach { name =>
      val liveDir = new Path(chRoot, name)
      val staged = new Path(tmpRoot, name)
      val backup = new Path(chRoot, s"_gc_old_$name")
      require(fs.rename(liveDir, backup),
        s"ChunkStore.gc: backup rename of $liveDir failed")
      gcFailpointTick() // nastiest state: live gone, backup + staged live
      if (fs.exists(staged))
        require(fs.rename(staged, liveDir),
          s"ChunkStore.gc: install rename to $liveDir failed")
      fs.delete(backup, true)
      gcFailpointTick() // bucket complete, later buckets untouched
    }
    fs.delete(tmpRoot, true)
    (dirtyNames.size, collected)
  }

  /** TEST-ONLY failpoint: set to N to throw after the Nth install STEP
    * inside [[gc]] (two steps per bucket: after the backup rename —
    * live dir missing, backup + staged present — and after the backup
    * delete). -1 = off (production). */
  private[graft] val gcInstallFailpoint =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private def gcFailpointTick(): Unit =
    if (gcInstallFailpoint.get() >= 0 &&
        gcInstallFailpoint.decrementAndGet() < 0)
      throw new IllegalStateException(
        "ChunkStore.gc: injected crash (test failpoint)")

  /** Execute the remedy [[gc]]'s refusal message describes (r15
    * verdict "What's missing #4"). gc's install is per-bucket
    * self-contained (the backup drops immediately after its bucket
    * installs), so repair is a per-bucket decision rather than the
    * all-or-nothing judgment of the two-copy stores:
    *
    *  - `_gc_old_cb=X` with NO live `cb=X` → the crash hit between the
    *    backup rename and the staged install: restore the backup (the
    *    bucket returns to its pre-gc state — it merely still holds
    *    dead chunks no visible manifest joins to);
    *  - `_gc_old_cb=X` WITH a live `cb=X` → the staged install landed
    *    and only the backup delete was lost: drop the backup;
    *  - `_gc_tmp` is removed last (staged rows are recomputed by the
    *    next gc — liveness is re-derived from the manifests each run).
    *
    * Every post-repair state serves correctly; RE-RUN gc to finish the
    * collection. Idempotent; no-op on a clean store.
    * @return "clean" | "repaired" */
  def repairGc(spark: SparkSession, path: String): String =
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"chunk store $path") {
      import org.apache.hadoop.fs.Path
      val fs = fsOf(spark, path)._1
      val chRoot = new Path(s"$path/chunks")
      require(fs.exists(chRoot), s"ChunkStore.repairGc: no chunk tree at $path")
      val leftovers = fs.listStatus(chRoot).toSeq.filter { s =>
        val n = s.getPath.getName
        n == "_gc_tmp" || n.startsWith("_gc_old_")
      }
      if (leftovers.isEmpty) "clean"
      else {
        leftovers.filter(_.getPath.getName.startsWith("_gc_old_"))
          .foreach { b =>
            val live = new Path(chRoot,
              b.getPath.getName.stripPrefix("_gc_old_"))
            if (fs.exists(live)) fs.delete(b.getPath, true)
            else require(fs.rename(b.getPath, live),
              s"ChunkStore.repairGc: restore of ${b.getPath} failed")
          }
        fs.delete(new Path(chRoot, "_gc_tmp"), true)
        "repaired"
      }
    }

  /** Store integrity audit — the crash contracts made CHECKABLE: one
    * (check, violations) row per invariant, all computed from
    * column-pruned scans of the manifest/chunk tables (chunk BYTES are
    * never read; the corpus never is).
    *
    *  - `dangling_manifest_ref` (CORRUPTION): a hash the live view —
    *    committed visible manifest plus every partial slot's rows, the
    *    gc liveness set — references with no stored chunk row; any
    *    count > 0 means [[reconstruct]] silently serves truncated text
    *    RIGHT NOW. Can only come from lost files: appends land chunk
    *    bytes BEFORE manifests, and gc/compact keep exactly this set.
    *  - `gc_debt_chunks` (DEBT, not corruption): stored hashes no live
    *    manifest references — what [[gc]] would collect.
    *  - `misbucketed_chunk` (CORRUPTION when meta is present): a chunk
    *    row whose `cb=` partition differs from its hash's bucket —
    *    pruned appends/serves would MISS it (dedup duplicates, partial
    *    reconstructDocs).
    *  - `dup_chunk_hash` (DEBT): a hash stored more than once —
    *    correctness holds (joins dedup), bytes are wasted. */
  def fsck(spark: SparkSession, path: String): DataFrame = {
    val (manSrc, partialSlots) = committedManifestRead(spark, path, "fsck")
    val committedLive = visibleManifestFrom(spark, path, manSrc)
      .select("chunk_hash")
    val fs = fsOf(spark, path)._1
    val live = partialSlotHashes(spark, s"$path/manifest", fs, partialSlots)
      .map(committedLive.unionByName(_)).getOrElse(committedLive)
      .distinct()
    val stored = spark.read.parquet(s"$path/chunks")
      .select(col("cb").cast("long").as("cb"), col("chunk_hash"))
      .persist()
    val dangling = live.join(stored.select("chunk_hash"),
      Seq("chunk_hash"), "left_anti").count()
    val debt = stored.select("chunk_hash").distinct()
      .join(live, Seq("chunk_hash"), "left_anti").count()
    val dup = stored.groupBy("chunk_hash").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val misb = readMeta(spark, path).map(_._1).filter(_ > 0) match {
      case Some(nb) =>
        stored.filter(col("cb") =!= cb(col("chunk_hash"), nb)).count()
      case None => 0L
    }
    stored.unpersist()
    import spark.implicits._
    Seq(("dangling_manifest_ref", dangling), ("dup_chunk_hash", dup),
      ("gc_debt_chunks", debt), ("misbucketed_chunk", misb))
      .toDF("check", "violations")
  }

  /** Physically reclaim space: rewrite the manifest to only its live
    * rows (superseded runs and tombstoned docs dropped), drop chunk
    * rows no live manifest references, clear applied tombstones, and
    * leave one file per chunk bucket. Surviving documents reconstruct
    * byte-identically. Returns the number of chunk ROWS the rewrite
    * dropped — [[gc]]'s `collected` for the full-rewrite path, so a
    * takedown that compacts anyway never needs a separate gc pass
    * (gc's dirty-bucket rewrite is a strict subset of this one).
    *
    * Refuses when NO document survives the fold (and no partial slot
    * rides over): installing an empty manifest/chunk tree would make
    * every later read throw instead of returning empty — an
    * empty-after store is a delete decision, not a compaction (the
    * [[IvfLayout.compact]] refusal, and [[gc]]'s).
    *
    * Crash contract (the [[IvfLayout.compact]] discipline): both new
    * trees are STAGED fully before any install; each install is a
    * backup-rename (`__old`) + move, atomic on HDFS/POSIX; applied
    * tombstones are PARKED (atomic rename) right after the manifest
    * install and only deleted in cleanup — strictly before the backups
    * go, because a stale marker outranking the folded seq-0 rows would
    * hide a doc re-ingested after deletion, and the old
    * backups-first order let a crash close that window with NO
    * leftover (silent permanent loss at the next compact). A crash
    * mid-swap leaves `__compact_old` / `__compact_parked` wreckage, a
    * re-run fails loudly while it exists, and [[repairCompact]]
    * executes the phase-accurate remedy. */
  def compact(spark: SparkSession, path: String): Long =
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"chunk store $path")(compactLocked(spark, path))

  private def compactLocked(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    graft.warehouse.Warehouse.requireAtomicRename(
      Option(fs.getScheme).getOrElse(""),
      spark.conf.getOption("spark.graft.warehouse.allowNonAtomicRename")
        .exists(_.equalsIgnoreCase("true")))
    val manOld = new Path(s"$path/manifest__compact_old")
    val chOld = new Path(s"$path/chunks__compact_old")
    val parked = new Path(s"$path/tombstones__compact_parked")
    require(!fs.exists(manOld) && !fs.exists(chOld) && !fs.exists(parked),
      s"ChunkStore.compact: leftover __compact_old/__compact_parked " +
        s"under $path from an interrupted compact — run " +
        "ChunkStore.repairCompact (it rolls the install forward or back " +
        "by phase), or restore each leftover over its live directory by " +
        "hand, before re-running")
    // GC wreckage refuses too: the staged chunk tree reads the live
    // buckets only, and a gc-crashed bucket's survivors live in the
    // underscore-invisible _gc_old_* backup — staging would drop them
    // and the install would delete the backup (r16 review)
    requireNoWreckage(spark, path, "compact")
    val manTmp = new Path(s"$path/manifest__compact_tmp")
    val chTmp = new Path(s"$path/chunks__compact_tmp")
    fs.delete(manTmp, true); fs.delete(chTmp, true)

    // legacy / unknown-bucketing stores (no meta, or the nBuckets=0
    // sentinel from a deleteDocs-created meta) are REBUCKETED to the
    // default here, and the choice is RECORDED below — after this
    // compact the store is fully self-describing and appends validate
    // against the actual layout
    val meta = readMeta(spark, path)
    val nBuckets = meta.map(_._1).filter(_ > 0).getOrElse(64)
    // partial slots (no _SUCCESS — a crash mid-append of the batch
    // about to be REPLAYED) follow the IvfLayout.compact discipline:
    // excluded from the fold, carried over VERBATIM, never recorded —
    // the replay must rewrite them whole, not no-op against a base
    // that swallowed half-written manifests. Committed slot ids land
    // in the manifest table's fold manifest, which is what makes the
    // mid-stream compact replay-safe (ChunkStore.append no-ops them).
    val manRoot = new Path(s"$path/manifest")
    val (manSrc, partialSlots) = committedManifestRead(spark, path, "compact")
    val committedSlots = IvfLayout.replayableSlots(fs, manRoot)._1
    // 1. stage the live manifest as a single __base__ run. With NO
    //    partial slot the seq collapses to 0 (every superseded row is
    //    gone and the tombstones clear below — latest-run-wins is the
    //    identity). With one, ORIGINAL seqs are kept on BOTH the folded
    //    rows and the carried slot: tombstones stay live (below), and
    //    collapsing would mis-order a doc whose committed re-ingest had
    //    superseded an older tombstone (seq 0 < tombstone seq — the doc
    //    would vanish and the next compact would purge it; round-14
    //    review)
    val folded0 = visibleManifestFrom(spark, path, manSrc)
    val stagedBase =
      if (partialSlots.isEmpty)
        folded0.select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
          lit(0L).as("seq"))
      else
        folded0.select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
          col("seq"))
    stagedBase.write.parquet(s"$manTmp/run=__base__")
    // a fold that leaves NO live manifest row (every doc tombstoned or
    // superseded away) with no partial slot to carry must refuse, like
    // gc: installing an empty tree breaks every later read ("unable to
    // infer schema"), and a full takedown is a delete-the-store
    // decision, not a compaction. Checked on the STAGED rows (no extra
    // pass over the live store; nothing is installed yet).
    if (partialSlots.isEmpty &&
        (!hasDataFiles(fs, new Path(s"$manTmp/run=__base__")) ||
          spark.read.parquet(s"$manTmp/run=__base__").isEmpty)) {
      fs.delete(manTmp, true); fs.delete(chTmp, true)
      throw new IllegalStateException(
        s"ChunkStore.compact: compacting $path would leave an EMPTY store " +
          "(every document tombstoned or the store was empty) — delete " +
          "or rebuild the store instead of compacting")
    }
    // partial slots ride verbatim, WITH their seq sidecars — the replay
    // must still recover its first delivery's seq after the install
    // (folded slots' sidecars die with the old manifest tree: their
    // replays no-op via the fold manifest and never consult a seq)
    partialSlots.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, p, fs, new Path(manTmp.toString, p.getName), false, conf)
      val sc = slotSeqPath(path, p.getName.stripPrefix("run="))
      if (fs.exists(sc))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, sc, fs, new Path(manTmp.toString, sc.getName), false, conf)
    }
    val foldedManifest = RunSlots.foldedRuns(spark, manRoot.toString)
      .fold(committedSlots.map(IvfLayout.slotId).toSet)
    if (!foldedManifest.isEmpty)
      RunSlots.writeFoldedManifest(spark, manTmp.toString, foldedManifest)
    // 2. stage the chunks still referenced by a live manifest row OR by
    //    a carried partial slot's rows: that slot's docs keep resolving
    //    from it until the replay, so dropping its chunk bytes would
    //    make reconstruct silently serve TRUNCATED text in the window
    //    before the stream restarts (round-14 review) — the inner join
    //    on chunk_hash drops missing chunks without an error
    val stagedHashes =
      spark.read.parquet(s"$manTmp/run=__base__").select("chunk_hash")
    val liveHashes =
      partialSlotHashes(spark, manRoot.toString, fs, partialSlots)
        .map(stagedHashes.unionByName(_)).getOrElse(stagedHashes)
        .distinct()
    spark.read.parquet(s"$path/chunks")
      .join(liveHashes, Seq("chunk_hash"), "left_semi")
      .withColumn("cb", cb(col("chunk_hash"), nBuckets))
      .repartition(col("cb"))
      .sortWithinPartitions("chunk_hash")
      .write.partitionBy("cb").parquet(chTmp.toString)
    // rows the rewrite dropped = what a gc before this compact would
    // have collected — two footer-cheap parquet counts (no column
    // reads), so the takedown path can skip its separate gc pass
    val purged = spark.read.parquet(s"$path/chunks").count() -
      spark.read.parquet(chTmp.toString).count()
    // 3. install both trees by backup-rename + move. Applied tombstones
    //    are PARKED (atomic rename to a recoverable sibling, deleted in
    //    cleanup) IMMEDIATELY after the manifest install, and strictly
    //    BEFORE any backup is deleted. Order matters (r16): the folded
    //    base rewrites seqs to 0, so a stale tombstone outranks the
    //    folded rows of any doc that was re-ingested AFTER its deletion
    //    — the doc vanishes from serves and the NEXT compact purges it.
    //    The old order (backups deleted first, tombstones last) had a
    //    crash window with NO leftover: the next compact saw a clean
    //    store and made the loss permanent, silently. Now every state
    //    with stale markers still present also has a backup or the
    //    parked dir present, so the next compact REFUSES and
    //    repairCompact finishes or rolls back the install — the
    //    mis-serve window shrinks to the two renames between manifest
    //    install and the park.
    //    Tombstones park ONLY when no partial slot rode over: a carried
    //    slot's docs still resolve from it (and from its replay, which
    //    reuses the same seq), so a tombstone shadowing one of them
    //    must keep applying or the delete would be silently undone —
    //    the compact after the replay commits the slot purges it.
    val man = new Path(s"$path/manifest"); val ch = new Path(s"$path/chunks")
    require(fs.rename(man, manOld), s"ChunkStore.compact: backup rename of $man failed")
    compactFailpointTick() // manifest missing: repair rolls BACK
    require(fs.rename(manTmp, man), s"ChunkStore.compact: install rename to $man failed")
    val tomb = new Path(s"$path/tombstones")
    if (partialSlots.isEmpty && fs.exists(tomb))
      require(fs.rename(tomb, parked),
        s"ChunkStore.compact: tombstone park rename failed")
    compactFailpointTick() // new manifest + backups: repair rolls FORWARD
    require(fs.rename(ch, chOld), s"ChunkStore.compact: backup rename of $ch failed")
    require(fs.rename(chTmp, ch), s"ChunkStore.compact: install rename to $ch failed")
    compactFailpointTick() // both installed, cleanup pending
    fs.delete(manOld, true); fs.delete(chOld, true)
    fs.delete(parked, true)
    writeMeta(spark, path, nBuckets, meta.map(_._2).getOrElse(0L))
    purged
  }

  /** TEST-ONLY failpoint for [[compact]]'s install sequence (see the
    * ticks above); -1 = off (production). */
  private[graft] val compactInstallFailpoint =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private def compactFailpointTick(): Unit =
    if (compactInstallFailpoint.get() >= 0 &&
        compactInstallFailpoint.decrementAndGet() < 0)
      throw new IllegalStateException(
        "ChunkStore.compact: injected crash (test failpoint)")

  /** Execute the phase-accurate remedy for [[compact]] wreckage (r15
    * verdict "What's missing #4", extended to the swap-install family
    * after the tombstone-order fix above). The decisive observable is
    * the LIVE manifest:
    *
    *  - backups exist and the live manifest is MISSING → the crash hit
    *    between the manifest's backup rename and its install: roll
    *    BACK (restore `manifest__compact_old`, un-park tombstones if
    *    any were parked — the old manifest needs its markers to keep
    *    deleted docs hidden) and re-run the compact;
    *  - backups/parked exist and the live manifest is PRESENT → it is
    *    the staged one (the install only ever moves the old tree out
    *    first): roll FORWARD — finish the chunk install from the
    *    staged tree if needed, clear the parked/stale tombstones
    *    exactly when the interrupted compact would have (no partial
    *    slot carried in the installed tree), drop the backups, and
    *    re-record store metadata;
    *  - staging trees alone (`__compact_tmp`) are simply removed (the
    *    crash predated any install — compact re-stages from scratch).
    *
    * Idempotent; no-op on a clean store. @return "clean" |
    * "cleaned_up" | "rolled_back" | "rolled_forward" */
  def repairCompact(spark: SparkSession, path: String): String =
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"chunk store $path") {
      import org.apache.hadoop.fs.Path
      val fs = fsOf(spark, path)._1
      val man = new Path(s"$path/manifest")
      val ch = new Path(s"$path/chunks")
      val manOld = new Path(s"$path/manifest__compact_old")
      val chOld = new Path(s"$path/chunks__compact_old")
      val parked = new Path(s"$path/tombstones__compact_parked")
      val manTmp = new Path(s"$path/manifest__compact_tmp")
      val chTmp = new Path(s"$path/chunks__compact_tmp")
      val tomb = new Path(s"$path/tombstones")
      if (!fs.exists(manOld) && !fs.exists(chOld) && !fs.exists(parked)) {
        val hadTmp = fs.exists(manTmp) || fs.exists(chTmp)
        fs.delete(manTmp, true); fs.delete(chTmp, true)
        if (hadTmp) "cleaned_up" else "clean"
      } else if (fs.exists(manOld) && !fs.exists(man)) {
        // rollback: old manifest back in place, markers restored
        require(fs.rename(manOld, man),
          s"ChunkStore.repairCompact: restore of $manOld failed")
        if (fs.exists(parked) && !fs.exists(tomb))
          require(fs.rename(parked, tomb),
            s"ChunkStore.repairCompact: tombstone un-park failed")
        fs.delete(manTmp, true); fs.delete(chTmp, true)
        "rolled_back"
      } else {
        // forward: live manifest is the staged one
        if (!fs.exists(ch)) {
          require(fs.exists(chTmp),
            s"ChunkStore.repairCompact: $ch missing and no staged tree " +
              "to install — restore chunks__compact_old by hand")
          require(fs.rename(chTmp, ch),
            s"ChunkStore.repairCompact: install rename to $ch failed")
          // the staged tree carries the compact's own bucket choice
          // (meta's when positive, else the rebucket default) — record
          // it ONLY when that tree is what we installed. When the OLD
          // tree stayed (backup rename never ran), metadata must stay
          // as-was: recording the staged bucketing against a
          // differently-bucketed physical tree would mis-prune every
          // reconstructDocs and append dedup read (r16 review #4); a
          // later completed compact re-records.
          val meta = readMeta(spark, path)
          writeMeta(spark, path,
            meta.map(_._1).filter(_ > 0).getOrElse(64),
            meta.map(_._2).getOrElse(0L))
        }
        // the interrupted compact cleared tombstones iff it carried no
        // partial slot — recompute that decision from the INSTALLED tree
        val carriedPartial = fs.listStatus(man).exists { s =>
          val n = s.getPath.getName
          s.isDirectory && n.startsWith("run=") &&
            n != s"run=${RunSlots.Base}" && n != s"run=${RunSlots.Adhoc}"
        }
        if (!carriedPartial) { fs.delete(parked, true); fs.delete(tomb, true) }
        else if (fs.exists(parked) && !fs.exists(tomb))
          require(fs.rename(parked, tomb),
            s"ChunkStore.repairCompact: tombstone un-park failed")
        fs.delete(manOld, true); fs.delete(chOld, true)
        fs.delete(manTmp, true); fs.delete(chTmp, true)
        "rolled_forward"
      }
    }
}
