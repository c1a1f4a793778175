package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import graft.sources.{InMemoryKVStore, KVClient}

/** The online store the benchmark hands to the sync and to the server:
  * [[InMemoryKVStore]] behind a counter. In `local[N]` the sync's executor
  * threads share this JVM, so the object sees every partition's writes.
  * While `timed` is set it also times each call, and keeps each GET as an
  * interval so the load generator can nest it under its request span.
  */
object CountingKV extends KVClient {
  @volatile var timed = false
  val sets = new LongAdder
  val setNs = new LongAdder
  val gets = new LongAdder
  val getNs = new LongAdder
  /** (key, start us, end us) of each timed GET. */
  val getSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def set(key: String, value: String): Unit = {
    sets.increment()
    if (!timed) InMemoryKVStore.set(key, value)
    else {
      val t0 = System.nanoTime()
      InMemoryKVStore.set(key, value)
      setNs.add(System.nanoTime() - t0)
    }
  }

  override def get(key: String): Option[String] = {
    gets.increment()
    if (!timed) InMemoryKVStore.get(key)
    else {
      val t0 = Clock.nowUs
      val n0 = System.nanoTime()
      val v = InMemoryKVStore.get(key)
      getNs.add(System.nanoTime() - n0)
      getSpans.add((key, t0, Clock.nowUs))
      v
    }
  }

  def reset(): Unit = {
    Seq(sets, setNs, gets, getNs).foreach(_.reset())
    getSpans.clear()
  }
}
