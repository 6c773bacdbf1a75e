package graft

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the mains' own
  * [[GraftSession]], one per forked test JVM. */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session
  def sf(s: String): String = s"/root/testdata/$s"

  private val tempDirs = mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh temporary directory, deleted with everything under it when
    * the current test ends, however it ends. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  /** Ids of the RDDs that `body` leaves persisted. The context tracks
    * persisted RDDs weakly, so a leaked checkpoint that a GC collects
    * mid-call would drop out of `getPersistentRDDs` and hide the leak;
    * a poller therefore holds every RDD persisted meanwhile strongly
    * until the difference is taken. */
  def persistedBy(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) { sc.getPersistentRDDs.values.foreach(held.add); Thread.sleep(2) })
    poller.setDaemon(true)
    poller.start()
    try body finally { polling = false; poller.join() }
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    held.clear()
    added
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally tempDirs.synchronized {
      tempDirs.foreach(d => FileUtils.deleteDirectory(d.toFile))
      tempDirs.clear()
    }
}

object GraftSpec {
  lazy val session: SparkSession = {
    val s = GraftSession("graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
