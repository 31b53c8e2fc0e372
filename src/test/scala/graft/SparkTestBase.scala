package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh scratch dir under java.io.tmpdir, deleted when the suite
    * ends — so a full test run leaves no scratch behind. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => SparkTestBase.deleteRecursively(d.toFile))
    finally super.afterAll()
}

object SparkTestBase {
  /** Shared recursive delete for specs that stage scratch dirs.
    * listFiles() returns null on IO error or a concurrent delete. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Shared deterministic ScalaCheck sampling for property specs. */
  def sampleGen[A](g: org.scalacheck.Gen[A], seed: Long): A =
    g.apply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed)).get

  // fixed at local[4] whatever SPARK_GRAFT_CPUS says, so specs that pin
  // partition-sensitive shapes read the same on every host
  lazy val session: SparkSession = {
    val s = Driver.session(4)
    s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    s
  }
}
