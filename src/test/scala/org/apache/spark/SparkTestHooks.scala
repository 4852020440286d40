package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD

/** Test access to driver state the public API does not offer.
  *
  * Leak checks immune to GC: `SparkContext.persistentRdds` holds its
  * RDDs weakly, and the `ContextCleaner` unpersists an RDD once it is
  * unreachable. An RDD that a body leaked by dropping its last frame
  * therefore leaves the registry at the next GC, and a check that runs
  * after that GC passes on leaking code. [[persistedBy]] installs, once
  * per context, a registry that forwards to Spark's own and, while a
  * body runs, also holds every RDD the body registers, until the check
  * is made.
  */
object SparkTestHooks {

  private final class Registry(under: concurrent.Map[Int, RDD[_]])
      extends concurrent.Map[Int, RDD[_]] {
    @volatile var pins: ConcurrentHashMap[Int, RDD[_]] = _

    private def pin(k: Int, v: RDD[_]): Unit = {
      val p = pins
      if (p != null) p.put(k, v)
    }

    def get(k: Int): Option[RDD[_]] = under.get(k)
    def iterator: Iterator[(Int, RDD[_])] = under.iterator
    def addOne(kv: (Int, RDD[_])): this.type = { pin(kv._1, kv._2); under.addOne(kv); this }
    def subtractOne(k: Int): this.type = { under.subtractOne(k); this }
    def putIfAbsent(k: Int, v: RDD[_]): Option[RDD[_]] = { pin(k, v); under.putIfAbsent(k, v) }
    def remove(k: Int, v: RDD[_]): Boolean = under.remove(k, v)
    def replace(k: Int, oldV: RDD[_], newV: RDD[_]): Boolean = under.replace(k, oldV, newV)
    def replace(k: Int, v: RDD[_]): Option[RDD[_]] = under.replace(k, v)
  }

  private def registry(sc: SparkContext): Registry = synchronized {
    sc.persistentRdds match {
      case r: Registry => r
      case under =>
        val r = new Registry(under)
        val f = classOf[SparkContext].getDeclaredField("persistentRdds")
        f.setAccessible(true)
        f.set(sc, r)
        r
    }
  }

  /** Ids of the RDDs `body` persisted that are still persisted after it. */
  def persistedBy(sc: SparkContext)(body: => Unit): Set[Int] = {
    val r = registry(sc)
    val pins = new ConcurrentHashMap[Int, RDD[_]]()
    r.pins = pins
    try body finally r.pins = null
    pins.keySet.asScala.filter(sc.persistentRdds.contains).toSet
  }

  /** Waits until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
