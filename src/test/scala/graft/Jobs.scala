package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Counts the Spark jobs a block starts on the calling thread, and the
  * cached (persisted) RDDs those jobs read or fill. Jobs are matched by a
  * local property, so jobs of other threads are not counted. */
object Jobs {
  private val Tag = "graft.test.jobTag"

  final case class Counted[T](value: T, jobs: Int, cachedRdds: Int)

  def count[T](spark: SparkSession)(f: => T): Counted[T] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val cached = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) {
          jobs.incrementAndGet()
          e.stageInfos.flatMap(_.rddInfos)
            .filter(_.storageLevel != StorageLevel.NONE).foreach(r => cached.add(r.id))
        }
    }
    val previous = sc.getLocalProperty(Tag)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try {
      val out = f
      org.apache.spark.grafttest.Bus.drain(sc)
      Counted(out, jobs.get, cached.size)
    } finally {
      sc.setLocalProperty(Tag, previous)
      sc.removeSparkListener(listener)
    }
  }
}
