package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession(4)

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
  sys.addShutdownHook(tempDirs.synchronized(tempDirs.toList).foreach(deleteTree))

  /** A fresh directory under `java.io.tmpdir` named `prefix…`; it and
    * everything written into it are deleted when the test JVM exits.
    * Every test that needs scratch space on disk takes it from here. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += dir)
    dir
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally paths.close()
    }

  val sf0001 = "/root/testdata/sf0.001"

  /** Waits until the listener bus has delivered every posted event (the
    * wait is Spark-internal, so it is reached reflectively). */
  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Runs `body` with the given session confs, restoring them after. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Queries DELIBERATELY declared without oracle SQL (the driver
    * records its weaker rows-only check for these). Every entry needs
    * a reason here, and ContractSpec/CoreQueriesSpec fail on any
    * query missing from BOTH this set and oracleSql — a forgotten
    * oracle cannot hide:
    *  - x3_compression: DEFLATE exists in no SQL engine; semantics are
    *    pinned by TextDedupSpec (separation, determinism, null guard). */
  val intentionallyOracleless: Set[String] = Set("x3_compression")
}
