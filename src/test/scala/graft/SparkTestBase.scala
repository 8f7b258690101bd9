package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (ScalaTest runs them in one forked JVM;
  * getOrCreate returns the same session everywhere). */
trait SparkTestBase extends AnyFunSuite {
  /** Fixed at `local[4]` whatever the host's SPARK_GRAFT_CPUS: specs
    * that pin plan or partition shapes assume this layout. */
  lazy val spark: SparkSession = Bench.session(4, 4)

  lazy val sf0001 = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Order-insensitive DataFrame equality on collected rows. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val ra = rows(a).map(_.toString).sorted
    val rb = rows(b).map(_.toString).sorted
    assert(ra == rb, s"row sets differ: ${ra.take(3)} vs ${rb.take(3)}")
  }
}

/** The reference's fallback datasets as literal fixtures (FIXTURES.md §A:
  * 3 users incl. one invalid-email row — users.js:81-111; 3 launches
  * covering success/failed/upcoming — spacex.js:82-115). */
object Fixtures {
  final case class User(id: String, name: String, email: String,
                        country: String, age: Int, valid: Boolean)
  val users: Seq[User] = Seq(
    User("demo-1", "Alice Anderson", "alice@example.com", "US", 34, valid = true),
    User("demo-2", "Bob Brown", "bob@example.com", "DE", 28, valid = true),
    User("demo-3", "Carol Clark", "", "US", 41, valid = false))

  final case class Launch(id: String, name: String, date_utc: String,
                          success: java.lang.Boolean, upcoming: Boolean,
                          rocketFk: String, payloads: Seq[String])
  val launches: Seq[Launch] = Seq(
    Launch("l1", "Demo Flight", "2024-01-01T00:00:00Z", true, upcoming = false, "rk1", Seq("p1", "p2")),
    Launch("l2", "Failed Flight", "2024-02-01T00:00:00Z", false, upcoming = false, "rk-missing", Seq("p1")),
    Launch("l3", "Future Flight", "2024-03-01T00:00:00Z", null, upcoming = true, "rk1", Seq.empty))

  final case class Rocket(id: String, rname: String)
  val rockets: Seq[Rocket] = Seq(Rocket("rk1", "Falcon Demo"))
}
