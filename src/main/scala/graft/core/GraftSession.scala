package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended Spark configuration — the knobs
  * that matter at cluster scale, applied identically by Verify/Bench and
  * available to library users.
  *
  * Rationale per knob (SURVEY §4 physical-execution choices):
  *  - shuffle.partitions sized to cores locally; on a real cluster set it
  *    (or let AQE coalesce) to ~2-3x total cores.
  *  - AQE on: runtime broadcast decisions for merge batches, skew-join
  *    splitting for hot partition keys, partition coalescing.
  *  - partitionOverwriteMode=dynamic session-wide default: partition
  *    rewrites must never truncate sibling partitions.
  *  - session timezone pinned UTC: the reference's timestamp-string
  *    contract (Ts) is UTC-microsecond; a stray local TZ corrupts windows.
  *  - nanosAsLong: the harness `events` table carries TIMESTAMP(NANOS),
  *    unreadable by Spark otherwise (Tables.events derives micros).
  *  - maxPartitionBytes default 128m: right for the 100 TB posture
  *    (~800k input splits at 100 TB — fine); lower it only for
  *    CPU-heavy per-row work like the dedup signature scans.
  *  - codegen.cache.maxEntries=1024 and codegen.useIdInClassName=false:
  *    make whole-stage-codegen classes reusable from one op to the next.
  *    One store cycle (append + takedown + audit over the six forget_docs
  *    stores) looks up ~300 distinct generated classes (~240 once stage
  *    ids are dropped; counted from the CodeGenerator DEBUG log of a warm
  *    cycle). Spark's JVM-wide cache of compiled classes holds 100 by
  *    default, so its LRU evicted classes before they were asked for
  *    again and a warm cycle compiled ~550 times (about half its wall
  *    time went to Janino). 1024 entries cover the store cycle with
  *    headroom for the other operator families, at ~5 MB of retained
  *    driver heap (100 -> 105 MB after a store cycle). The stage id is
  *    dropped from generated class names (`GeneratedIteratorForCodegen
  *    Stage4` vs `...Stage5`) because AQE re-planning renumbers stages
  *    between runs of the same query, and the class name is part of the
  *    cached source text: with it, identical plans miss the cache. The
  *    cache size is static and JVM-wide — it is fixed by whichever
  *    session first triggers codegen — and neither setting changes what
  *    a query computes.
  */
object GraftSession {

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      master match {
        case s if s.startsWith("local[") && s != "local[*]" =>
          s.stripPrefix("local[").stripSuffix("]").toInt
        case _ => Runtime.getRuntime.availableProcessors()
      })
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Pin ANSI explicitly (Spark 4 default = true): the D-function
      // NULL-on-malformed contracts use try_/when-guarded parsing and
      // element_at is always bounds-checked before use, so the suite is
      // ANSI-safe — but the semantic contract should not float with the
      // runtime default (VERDICT r5 missing-item 5).
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SQL MERGE surface: graft-targeted MERGE INTO routes to
      // MergeIntoPartitioned (graft.sql.GraftSqlExtensions scaladoc)
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      // SQL SELECT surface: `graft.db.schema.table` resolves warehouse
      // tables via the DSv2 catalog (graft.sql.GraftCatalog scaladoc)
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      // InferFiltersFromGenerate rewrites `explode(f(x))` into
      // `Filter(size(f(x))>0 AND isnotnull(f(x))) -> Generate(f(x))`,
      // DUPLICATING the generator child into a non-codegen Filter with no
      // subexpression elimination. Every text-pipeline explode here feeds
      // a computed array (shingle n-grams: split + HOF transform + md5
      // per gram), so the rewrite re-evaluates that whole tree 2 extra
      // times per row interpreted — measured 35x on the gram scans
      // (SCALING.md round 8). explode() already emits zero rows for
      // empty/null arrays; the inferred filter only exists to push the
      // emptiness test further down, worthless on derived columns.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Bound the plan-string renders AQE rebuilds on EVERY plan update:
      // AdaptiveSparkPlanExec.onUpdatePlan composes a full explainString
      // per stage materialization whether or not anything consumes it
      // (here the UI is off; on a cluster the SQL tab does), and the
      // per-update cost is O(rendered plan). 64 KB keeps real plans
      // fully readable for debugging while capping the degenerate
      // renders (a cache-nested CC sweep measured 196 KB per update
      // before the round-18 lineage fixes; the residual cap is worth
      // 10-30% wall on plan-update-heavy operators — measured on the
      // retrain/materialize gates). This is the documented Spark remedy
      // (maxPlanStringLength exists precisely for plan-string cost);
      // it changes no semantics, only diagnostic text length.
      .config("spark.sql.maxPlanStringLength", "65536")
      // codegen class reuse across ops (scaladoc above)
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
  }
}
