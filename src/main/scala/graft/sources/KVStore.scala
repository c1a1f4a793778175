package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Minimal KV client contract for the online store (the reference uses
  * Jedis against Redis; reference: OnlineSyncPipeline.scala:76-99).
  */
trait KVClient extends AutoCloseable {
  def set(key: String, value: String): Unit
  def get(key: String): Option[String]
  override def close(): Unit = ()
}

/** Process-local KV store. In `local[N]` mode executor threads share the
  * driver JVM, so a singleton map observes all partitions' writes — it
  * doubles as the test harness for the distributed sink below.
  */
object InMemoryKVStore extends KVClient {
  private val store = new ConcurrentHashMap[String, String]()
  override def set(key: String, value: String): Unit = store.put(key, value)
  override def get(key: String): Option[String] = Option(store.get(key))
  def snapshot: Map[String, String] = store.asScala.toMap
  def clear(): Unit = store.clear()
}

object KVSink {

  /** Distributed KV sink: one client per partition, one SET per row.
    *
    * The reference collect()s the whole table to the driver and loops a
    * single connection (OnlineSyncPipeline.scala:78-96) — that caps at
    * driver memory and one TCP pipe. `foreachPartition` instead scales the
    * sync linearly with executors: at 100 TB / 1000 executors each partition
    * opens its own connection and streams its shard.
    *
    * @param df two string columns: key, value (position 0 and 1)
    * @param clientFactory executor-side factory (must be serializable)
    * @return the SETs issued, counted in the same job: an action merges
    *   only successful task attempts' accumulator updates, so a retried
    *   partition counts once
    */
  def write(df: DataFrame, clientFactory: () => KVClient): Long = {
    val sets = df.sparkSession.sparkContext.longAccumulator("kv sets")
    df.foreachPartition { rows: Iterator[Row] =>
      val client = clientFactory()
      try rows.foreach { r => client.set(r.getString(0), r.getString(1)); sets.add(1) }
      finally client.close()
    }
    sets.value
  }
}
