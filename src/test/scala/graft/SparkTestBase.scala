package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; tests must not depend on session-global temp
  * views without qualifying names.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sqlc = spark.sqlContext

  /** `body`'s result and the input records its stages decoded. The
    * listener bus is flushed before the baseline is read and again
    * after `body`, so stages of earlier steps are not counted and the
    * body's own last stages are.
    */
  def inputRecords[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val meter = new SparkTestBase.InputMeter
    sc.addSparkListener(meter)
    try {
      ListenerBridge.flush(sc)
      val r0 = meter.records
      val result = body
      ListenerBridge.flush(sc)
      (result, meter.records - r0)
    } finally sc.removeSparkListener(meter)
  }
}

object SparkTestBase {
  /** Sums every completed stage's input records. */
  private final class InputMeter extends SparkListener {
    @volatile var records = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      records += sc.stageInfo.taskMetrics.inputMetrics.recordsRead
  }

  lazy val session: SparkSession = {
    // specs READ state-store row metrics (StreamingStateFingerprintSpec,
    // StreamingQueriesSpec's r58 state contract); the streaming gates
    // default RocksDB row tracking OFF for write throughput, so the
    // test JVM opts back into full observability — results are
    // tracking-invariant, only the metrics differ
    System.setProperty("graft.stream.trackRows", "1")
    val s = GraftSession.builder("4")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
