package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per `sbt test` fork). */
trait TestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = TestBase.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** (row count, MD5 hex) of an LM-scored frame's rows ordered by
    * doc_id, each rendered "doc_id,n_tokens,n_oov,n_backoff,xent" and
    * joined by ";" — a compact fingerprint for captured expected rows. */
  def lmRowDigest(df: org.apache.spark.sql.DataFrame): (Int, String) = {
    val rows = df.orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_oov", "n_backoff", "xent")
      .collect().map(_.toSeq.mkString(","))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString(";").getBytes("UTF-8"))
    (rows.length, md.map("%02x".format(_)).mkString)
  }

  /** Shared temp-dir cleanup (one copy for every spec). */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

object TestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensure(s)
    s
  }
}
