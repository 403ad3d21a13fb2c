package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Staging goes through [[Staged]] alone (the grep-style guard, like
  * [[OracleConventionSpec]]): outside `Staged.scala` no main source
  * resolves a default table location, spells the table-name tag regex,
  * takes a stage lock of its own, or checks a table's existence — so no
  * check-then-create can bypass [[Staged.ensure]]'s lock. The only
  * existence checks left elsewhere are the ones that stage nothing: the
  * serve table functions' view check and a purge's post-rewrite check.
  */
class StagedConventionSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private def uses(token: String): Map[String, Int] =
    sources.filterNot(_.getFileName.toString == "Staged.scala").map { p =>
      p.getFileName.toString ->
        java.util.regex.Pattern.quote(token).r
          .findAllMatchIn(Files.readString(p)).size
    }.filter(_._2 > 0).toMap

  test("no main source outside Staged resolves a table location, spells the tag regex or locks a stage") {
    for (token <- Seq("defaultTablePath", "\"[^a-zA-Z0-9]\"", "withStageLock"))
      assert(uses(token).isEmpty, s"$token used outside Staged.scala")
  }

  test("the only tableExists calls outside Staged stage nothing") {
    assert(uses("tableExists") ==
      Map("GraftExtensions.scala" -> 1, "StagedTombstones.scala" -> 1))
  }
}
