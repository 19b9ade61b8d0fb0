package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the library's `spark.graft.*` session keys. Each key is a
  * second code path behind a toggle, so adding one (or dropping one)
  * must update this list in the same change. */
class SessionKeysSpec extends AnyFunSuite {

  /** The keys the library reads. The first three switch a rewrite off,
    * which specs use to get the stock plan as their reference. */
  private val expected = Set(
    "spark.graft.aggPushdown.enabled",
    "spark.graft.aggPushdown.filtered",
    "spark.graft.dvRead.vectorized",
    "spark.graft.aggPushdown.groupedMaxFiles")

  test("src/main reads exactly the pinned spark.graft session keys") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the project root: no $main")
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val sources = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    val found: Map[String, Seq[Path]] = sources.flatMap { p =>
      literal.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p)
    }.groupMap(_._1)(_._2)
    assert(found.keySet == expected,
      s"unexpected keys: ${found.view.filterKeys(k => !expected(k)).toMap}; " +
        s"missing: ${expected -- found.keySet}")
  }
}
