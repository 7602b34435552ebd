package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Snapshot

/** One registry query's frame at [[SparkSpec.Sf]] and the signature of its
  * plan, taken when the frame was built. */
final case class Shipped(name: String, df: DataFrame, sig: PlanSignature)

/** Shared local SparkSession for all Spark-backed suites (one JVM-wide
  * session; suites run sequentially under sbt's default), on the same
  * config the bench and Verify run. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.start()
  val Sf = "/root/testdata/sf0.001"

  /** Every shipped query's frame at [[Sf]], built once per test JVM: the
    * registry-wide audits read only plans and schemas, and building a
    * frame already runs the query's eager derivations. Each frame is built
    * on an empty cache and signed at once ([[PlanSignature.fresh]]), so its
    * signature does not depend on which suites ran first. */
  lazy val shippedQueries: Seq[Shipped] = Queries.all.map { q =>
    val (df, sig) = PlanSignature.fresh(spark)(q.fn(spark, Sf))
    Shipped(q.name, df, sig)
  }
}

abstract class SparkFunSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val tempDirs = mutable.Buffer.empty[Path]

  /** A fresh directory under the JVM temp dir, deleted after the suite. */
  def tempDir(prefix: String): String = synchronized {
    val p = Files.createTempDirectory(prefix)
    tempDirs += p
    p.toString
  }

  override def afterAll(): Unit =
    try tempDirs.filter(Files.exists(_)).foreach(Snapshot.deleteRecursively)
    finally super.afterAll()
}
