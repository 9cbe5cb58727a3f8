package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The seed fully determines every generated input. */
class SeedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = spark = Setup.session(2)
  override def afterAll(): Unit = Setup.stop(spark)

  private def digest(df: org.apache.spark.sql.DataFrame) = Digest.of(df.collect().toSeq)

  test("one seed regenerates identical ticks; another seed differs") {
    val a = digest(CandleStream.staticTicks(spark, 2000, 7))
    assert(digest(CandleStream.staticTicks(spark, 2000, 7)) == a)
    assert(digest(CandleStream.staticTicks(spark, 2000, 8)) != a)
  }

  test("any seed, however large, gives valid ticks") {
    for (seed <- Seq(0L, 123456789L, Int.MaxValue.toLong, Long.MaxValue, -5L)) {
      val (idOff, t0) = CandleStream.seedOffsets(seed)
      assert(idOff >= 0 && idOff < 1000000000000000L)
      assert(t0 >= 1704067200000L && t0 < 1704067200000L + 3653L * 86400000L)
      assert(CandleStream.staticTicks(spark, 100, seed).collect().length == 100)
    }
  }

  test("one seed regenerates identical ingest docs and vectors") {
    val rows = spark.range(500).toDF("value")
    assert(digest(HistoryIngest.docs(rows, 3)) == digest(HistoryIngest.docs(rows, 3)))
    assert(digest(HistoryIngest.vecs(rows, 3)) == digest(HistoryIngest.vecs(rows, 3)))
    assert(digest(HistoryIngest.docs(rows, 3)) != digest(HistoryIngest.docs(rows, 4)))
  }

  test("the seed permutes the funnel query order, deterministically") {
    val names = CurationFunnels.queries.map(_._1)
    assert(CurationFunnels.order(5) == CurationFunnels.order(5))
    assert(CurationFunnels.order(5).sorted == names.sorted)
    assert((0L until 20L).map(CurationFunnels.order).distinct.size > 1)
  }
}
