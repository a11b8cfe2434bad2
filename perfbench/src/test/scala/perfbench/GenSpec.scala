package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.core.GraftSession.builder("local[2]").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
  private val shape = Gen.MergeShape(days = 10, keysPerDay = 20, slots = 23,
    batchRows = 20, lateRows = 4, lateDays = 3)

  test("the same seed gives identical inputs, another seed different ones") {
    val inputs: Seq[Long => DataFrame] = Seq(
      s => Gen.events(spark, s, 3, 50),
      s => Gen.mergeInitial(spark, s, shape),
      s => Gen.mergeBatches(spark, s, shape, 1, 4),
      s => Gen.docs(spark, s, 0, 60))
    inputs.foreach { gen =>
      assert(rows(gen(7)) == rows(gen(7)))
      assert(rows(gen(7)) != rows(gen(8)))
    }
    val live = 0L until 460
    assert(Gen.dropSet(7, 3, live, 460, 40, 12) == Gen.dropSet(7, 3, live, 460, 40, 12))
    assert(Gen.dropSet(7, 3, live, 460, 40, 12) != Gen.dropSet(8, 3, live, 460, 40, 12))
  }

  test("events: perDay per day, each inside its own day") {
    val e = Gen.events(spark, 1, 3, 50)
      .withColumn("day", datediff(to_date(col("event_ts")), lit("2024-01-01")))
    assert(e.groupBy("day").count().orderBy("day").collect().map(r =>
      (r.getInt(0), r.getLong(1))).toSeq == Seq((0, 50L), (1, 50L), (2, 50L)))
    assert(e.filter(col("day") =!= floor(col("event_id") / 50)).isEmpty)
  }

  test("merge batches: distinct keys, the late share in the days before the newest") {
    val b = Gen.mergeBatches(spark, 3, shape, 1, 6)
      .withColumn("day", floor(col("id") / Gen.KeyStride))
    assert(b.groupBy("batch", "id").count().filter(col("count") > 1).isEmpty)
    val perDay = b.filter(col("batch") === 2).groupBy("day").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perDay(shape.newestDay.toLong) == shape.batchRows - shape.lateRows)
    assert(perDay.keySet == Set(6L, 7L, 8L, 9L))
    // every version of a key lies inside the key's own day
    assert(b.filter(datediff(to_date(col("event_time")), lit("2024-01-01")) =!= col("day"))
      .isEmpty)
  }

  test("docs: sf0.1's shape, near-copies are mostly an earlier doc's text plus dup") {
    val d = Gen.docs(spark, 5, 0, 2000).collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    val words = d.values.map(_._1.split(" ").toSeq).toSeq
    assert(words.forall(w => w.length >= Gen.MinWords && w.length <= Gen.MaxWords + 1))
    assert(words.flatten.toSet == Gen.Vocab.toSet + "dup")
    assert(d.forall { case (id, (_, _, src)) => src == s"src${id % Gen.Sources}" })
    assert(d.values.map(_._2).toSet == Gen.Langs.map(_._1).toSet)
    val twins = d.filter(_._2._1.endsWith(" dup"))
    assert(twins.size > 2000 / Gen.TwinEvery / 2 && twins.size < 2000 / Gen.TwinEvery * 2)
    val byText = d.toSeq.map { case (id, (t, _, _)) => t -> id }.toMap
    // a near-copy of a near-copy repeats its words without their " dup"
    val copies = twins.count { case (id, (t, _, _)) =>
      byText.get(t.stripSuffix(" dup")).exists(_ < id) }
    assert(copies >= twins.size * 0.9, s"$copies of ${twins.size}")
  }

  test("drop sets take n live ids plus one id of the cycle's batch") {
    val live = (0L until 960).filter(_ % 7 != 0)
    val ids = Gen.dropSet(11, 4, live, 960, 40, 12)
    assert(ids.size == 13 && ids == ids.distinct.sorted)
    assert(ids.count(id => id >= 960 && id < 1000) == 1)
    assert(ids.filter(_ < 960).forall(live.contains))
  }
}
