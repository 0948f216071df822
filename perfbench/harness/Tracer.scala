package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The hook every workload call goes through. A span wraps one public call
  * into a program module and is named `<module>.<Object>.<fn>`; an action
  * wraps a call that writes or otherwise forces output.
  */
trait Tracer {
  def span(name: String)(f: => DataFrame): DataFrame
  def act[T](name: String)(f: => T): T
  /** A traced-only ratio; untraced runs never evaluate `v`. */
  def observe(name: String)(v: => Double): Unit
  /** Ends the pass; returns its per-layer metrics (none when untraced). */
  def finish(): Map[String, Double]
}

/** The end-to-end mode: calls stay lazy exactly as a user chains them, and
  * only the storage held after each action is sampled.
  */
final class Untraced(spark: SparkSession) extends Tracer {
  private var peak = 0L

  def span(name: String)(f: => DataFrame): DataFrame = f

  def act[T](name: String)(f: => T): T = {
    val r = f
    sampleStorage()
    r
  }

  def observe(name: String)(v: => Double): Unit = ()

  def finish(): Map[String, Double] = Map.empty

  /** Bytes held by the block manager as cached or checkpointed RDD blocks. */
  def sampleStorage(): Unit = {
    val held = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    peak = math.max(peak, held)
  }

  def storagePeakBytes: Long = peak
}
