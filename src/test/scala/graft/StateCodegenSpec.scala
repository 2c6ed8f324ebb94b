package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.streaming.StreamingAgg
import graft.streaming.StreamingAgg.{AggEmit, StreamEvent}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Per-micro-batch fixed cost of the keyed trailing-window state: once a
  * query is warm, its micro-batches reuse cached generated code. A state
  * value whose decoder changes its generated source on every batch (a
  * collection field's `MapObjects` lambda is renamed each time) misses the
  * codegen cache and pays one Janino compile per batch, inside a state
  * task that the other state tasks then wait on.
  */
class StateCodegenSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  test("a warm checkpointed trailingAgg query compiles no code per micro-batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the default state store, which the pipeline runs on; suites sharing
    // this session may have switched it to RocksDB
    val provider = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val source = MemoryStream[StreamEvent]
    val emitted = new AtomicLong
    val q = StreamingAgg
      .trailingAgg(source.toDS())
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("state_codegen_ckpt").toString)
      .foreachBatch { (ds: Dataset[AggEmit], _: Long) =>
        emitted.addAndGet(ds.collect().length.toLong)
        ()
      }
      .start()
    // every batch extends each of 8 keys' buffers, so from the second on
    // the state decoder runs on every key
    def batch(b: Int): Unit = {
      source.addData((1L to 8L).map(k => StreamEvent(k, b * 1000000L, 100L * b)))
      q.processAllAvailable()
    }
    val compiles =
      try {
        (1 to 3).foreach(batch)
        val warm = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (4 to 11).foreach(batch)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - warm
      } finally {
        q.stop()
        provider.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
      }
    assert(emitted.get == 11L * 8L)
    assert(compiles == 0L, s"$compiles compiles over 8 warm micro-batches")
  }
}
