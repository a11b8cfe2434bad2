package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every input is a pure function of the seed: the
  * same seed gives identical rows, a different seed gives different ones.
  * Spark-side values come from `spark.range` plus seeded `xxhash64`;
  * driver-side choices (takedown drop sets) come from [[mix]]. */
object Gen {

  val DayMicros: Long = 86400L * 1000 * 1000
  /** 2024-01-01 00:00:00 UTC: day 0 of every generated timeline. */
  val Day0Micros: Long = 1704067200L * 1000 * 1000

  /** Timestamp string of midnight starting day `d`, in the library's
    * run-window format. */
  def dayStart(d: Int): String =
    graft.core.Ts.format(java.time.Instant.ofEpochSecond(
      Day0Micros / 1000000 + d.toLong * 86400))

  /** Driver-side seeded hash (splitmix64 finalizer over the inputs). */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Non-negative `mix` modulo `n`. */
  def pick(n: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), n)

  private def h(seed: Long, tag: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(tag) +: cs: _*)
  private def hmod(n: Long, seed: Long, tag: Int, cs: Column*): Column =
    pmod(h(seed, tag, cs: _*), lit(n))
  private def idiv(c: Column, n: Long): Column = floor(c / lit(n)).cast("long")
  private def tsAt(day: Column, micros: Column): Column =
    timestamp_micros(lit(Day0Micros) + day * lit(DayMicros) + micros)

  // ---- incremental_append: an event source, `perDay` events per day ------

  def events(spark: SparkSession, seed: Long, days: Int, perDay: Int): DataFrame =
    spark.range(days.toLong * perDay).select(
      col("id").as("event_id"),
      tsAt(idiv(col("id"), perDay), hmod(DayMicros, seed, 1, col("id"))).as("event_ts"),
      hmod(1000, seed, 2, col("id")).as("user_id"),
      hmod(10000, seed, 3, col("id")).as("value"),
      concat(lit("e"), hmod(100000, seed, 4, col("id")).cast("string")).as("payload"))

  // ---- stream_upsert: a MERGE target and its batch sequence ---------------
  //
  // Keys are day-scoped: key = day * KeyStride + slot, and every version of
  // a key carries an event time inside its own day. A key's target row
  // therefore always sits in the partition its batch row touches, so MERGE
  // with eventTime recency reduces to "the newest version of each key
  // wins; on a tie the earlier arrival stays" (see StreamUpsert.mergeOracle).

  final case class MergeShape(days: Int, keysPerDay: Int, slots: Int,
                              batchRows: Int, lateRows: Int, lateDays: Int) {
    require(batchRows - lateRows <= slots, "newest-day keys must be distinct")
    require((lateRows + lateDays - 1) / lateDays <= slots, "late keys must be distinct")
    def newestDay: Int = days - 1
  }
  val KeyStride: Long = 1000000L

  private def versionCols(seed: Long, arrival: Column, day: Column, slot: Column): Seq[Column] = {
    val id = day * lit(KeyStride) + slot
    Seq(id.as("id"),
      tsAt(day, hmod(DayMicros, seed, 20, arrival, id)).as("event_time"),
      hmod(1000000, seed, 21, arrival, id).as("value"),
      concat(lit("v"), arrival.cast("string"), lit("-"),
        hmod(1000, seed, 22, arrival, id).cast("string")).as("note"))
  }

  /** The target's initial rows: `keysPerDay` keys in each of `days` days. */
  def mergeInitial(spark: SparkSession, seed: Long, s: MergeShape): DataFrame =
    spark.range(s.days.toLong * s.keysPerDay)
      .select(versionCols(seed, lit(0), idiv(col("id"), s.keysPerDay),
        col("id") % s.keysPerDay): _*)

  /** Batches `from until until` (1-based), tagged by a `batch` column. In
    * each, `lateRows` late rows spread over the `lateDays` days before the
    * newest and the rest go into the newest day. Slots come from a seeded
    * affine permutation modulo the prime `slots`, so keys are distinct
    * within a batch and some land beyond the initial keys (inserts). */
  def mergeBatches(spark: SparkSession, seed: Long, s: MergeShape,
                   from: Int, until: Int): DataFrame = {
    val b = idiv(col("id"), s.batchRows) + from
    val j = col("id") % s.batchRows
    def perm(x: Column, tag: Int): Column = {
      val a = hmod(s.slots - 1, seed, tag, b) + 1
      val c = hmod(s.slots, seed, tag + 1, b)
      pmod(x * a + c, lit(s.slots.toLong))
    }
    val late = j < s.lateRows
    val day = when(late, lit(s.newestDay - 1) - (j % s.lateDays)).otherwise(lit(s.newestDay))
    val slot = when(late, perm(idiv(j, s.lateDays), 30)).otherwise(perm(j - s.lateRows, 40))
    spark.range((until - from).toLong * s.batchRows)
      .select(versionCols(seed, b, day, slot) :+ b.cast("int").as("batch"): _*)
  }

  // ---- store_lifecycle: a document corpus in the shape of sf0.1 `documents`
  //
  // Measured on the sf0.1 `documents` table (5000 rows; see README.md):
  // 10-100 words per doc, uniformly spread (mean 54.1); 30 words, used with
  // equal frequency, plus the marker `dup`; 250 docs (5 %) end in " dup",
  // 243 of them another doc's text plus " dup"; `source` is "src" +
  // doc_id % 20; `lang` is en 2059, de 702, es 744, fr 742, zh 753.

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  val MinWords = 10
  val MaxWords = 100
  val Sources = 20
  /** One doc in `TwinEvery` (by seeded hash) is an earlier doc's words plus
    * " dup". In sf0.1 the copied doc may come later too; here it is always
    * earlier, so a near-copy never arrives before its original. */
  val TwinEvery = 20
  /** Languages and their counts in sf0.1. */
  val Langs: Seq[(String, Int)] =
    Seq("en" -> 2059, "de" -> 702, "es" -> 744, "fr" -> 742, "zh" -> 753)

  /** Documents `from until from + n`. Word choices, lengths, languages and
    * which docs are near-copies (and of which earlier doc) are salted by the
    * seed; the rates and ranges are sf0.1's. */
  def docs(spark: SparkSession, seed: Long, from: Long, n: Long): DataFrame = {
    val id = col("id")
    val twin = id > 0 && hmod(TwinEvery, seed, 14, id) === 0
    val base = when(twin, pmod(h(seed, 15, id), id)).otherwise(id)
    val vocab = array(Vocab.map(lit): _*)
    val len = lit(MinWords) + hmod(MaxWords - MinWords + 1, seed, 10, base).cast("int")
    val words = transform(sequence(lit(0), len - 1), p =>
      element_at(vocab, hmod(Vocab.size, seed, 11, base, p).cast("int") + 1))
    val text = when(twin, concat(array_join(words, " "), lit(" dup")))
      .otherwise(array_join(words, " "))
    val total = Langs.map(_._2).sum
    val r = hmod(total, seed, 13, id)
    val lang = Langs.scanLeft(("", 0)) { case ((_, acc), (l, c)) => (l, acc + c) }.tail
      .foldRight(lit(Langs.last._1)) { case ((l, upTo), rest) => when(r < upTo, lit(l)).otherwise(rest) }
    spark.range(from, from + n)
      .select(id.as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), (id % Sources).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Link pairs among docs `from until until`: (u, u+1) unless u % 3 == 2,
    * so the link graph is chains of three docs. */
  def pairs(from: Long, until: Long): Seq[(Long, Long)] =
    (from until until - 1).filter(_ % 3 != 2).map(u => (u, u + 1))

  /** The takedown request of cycle `k`: `n` of the `live` ids, ranked by a
    * seeded hash, plus one id of the batch that cycle ingested. */
  def dropSet(seed: Long, k: Int, live: Seq[Long], batchFrom: Long, batchN: Long,
              n: Int): Seq[Long] =
    (live.sortBy(id => mix(seed, 77, k, id)).take(n) :+
      (batchFrom + pick(batchN, seed, 78, k))).sorted
}
