package graft.streaming

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

/** The replay harness under the streaming probes: memory-sink views do
  * not outlive a run, and the generation chain fails loudly.
  */
class StreamingReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every message along an exception's cause chain (a foreachBatch
    * failure reaches the caller wrapped in the query's exception). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  test("memory-sink replays are repeatable and leave no sink view behind") {
    Seq("st1_stream_upsert", "st6_stream_windowed_agg").foreach { name =>
      val probe = SparkEntry.queries(name)
      val first = probe(spark, TestSpark.sfDir).collect().toSeq
      val second = probe(spark, TestSpark.sfDir).collect().toSeq
      assert(first.nonEmpty, s"$name emitted nothing")
      assert(second === first, s"$name changed between runs")
    }
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.matches("graft_st\\d+_sink_\\d+"))
    assert(views.isEmpty, s"memory-sink views left registered: ${views.toSeq}")
  }

  test("generation chain: a gap fails with missing generation, an empty drop with no batches") {
    import spark.implicits._
    val merge = (state: DataFrame, partial: DataFrame) =>
      state.unionByName(partial).groupBy("k").agg(sum("v").as("v"))
    val schema = Seq((0L, 0L)).toDF("k", "v").schema
    val feed = TestSpark.tempDir("graft_gen_feed")
    def drop(k: Long): Unit =
      Seq((k, 1L)).toDF("k", "v").write.mode("append").parquet(feed)
    def chain(dir: String, ck: Option[String]): DataFrame =
      StreamingQueries.lastGeneration(spark, "gens", ck)(
        spark.readStream.schema(schema).parquet(dir))(identity, merge)

    val ck = TestSpark.tempDir("graft_gen_ck")
    drop(0)
    assert(chain(feed, Some(ck)).count() === 1)
    // the checkpoint resumes at batch 1, but this chain's table is new:
    // generation 0 is missing, and the chain must not restart from empty
    drop(1)
    val gap = intercept[Exception](chain(feed, Some(ck)))
    assert(messages(gap).contains("gens: missing generation 0"), messages(gap))

    val empty = intercept[RuntimeException](
      chain(TestSpark.tempDir("graft_gen_empty"), None))
    assert(empty.getMessage.contains("gens: replay committed no batches"),
      empty.getMessage)
  }
}
