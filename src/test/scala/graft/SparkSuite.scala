package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for integration specs (one per suite). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** A session of the shared context whose `spark.graft.checkpointDir`
    * is a fresh temp dir, and that dir: graft ops run in it go through
    * reliable checkpoints. */
  def reliableSession(): (SparkSession, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toFile
    val session = spark.newSession()
    session.conf.set(graft.ops.Iterative.CheckpointDirKey, dir.toString)
    (session, dir)
  }

  /** Reliable-checkpoint data files (`part-*`) anywhere under `dir`. */
  def checkpointFiles(dir: java.io.File): Int =
    dir.listFiles().map(f =>
      if (f.isDirectory) checkpointFiles(f)
      else if (f.getName.startsWith("part-")) 1 else 0).sum
}
