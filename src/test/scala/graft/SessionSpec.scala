package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SessionSpec extends SparkTestBase {

  test("the shared session carries the bench confs and each plan extension once") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    def extensionsOnce(): Unit = {
      assert(spark.experimental.extraOptimizations == Seq(graft.plans.PushableKeyCast))
      assert(spark.experimental.extraStrategies == Seq(graft.plans.TopKPerKeyStrategy))
    }
    extensionsOnce()
    assert(Bench.session(4, 4) eq spark)
    extensionsOnce()
  }

  test("src/main builds its SparkSession in exactly one place") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val builders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex
          .filter { case (l, _) =>
            l.contains("SparkSession.builder") && !l.trim.startsWith("*") &&
              !l.trim.startsWith("//")
          }
          .map { case (_, i) => s"${root.relativize(f)}:${i + 1}" }
      }.toList
    assert(builders.size == 1 && builders.head.startsWith("graft/Bench.scala"),
      builders.mkString(", "))
  }

  test("name filter: empty or blank means no filter") {
    Seq("", " ", " , ,").foreach(s => assert(Bench.nameFilter(s).isEmpty, s"'$s'"))
  }

  test("name filter: entries are trimmed") {
    assert(Bench.nameFilter(" q1_pricing_summary , t7_tfidf ") ==
      Some(Set("q1_pricing_summary", "t7_tfidf")))
  }

  test("name filter: unknown names throw, naming each") {
    val e = intercept[IllegalArgumentException](
      Bench.nameFilter("q1_pricing_summary,no_such_a, no_such_b"))
    assert(e.getMessage.contains("no_such_a") && e.getMessage.contains("no_such_b"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
  }
}
