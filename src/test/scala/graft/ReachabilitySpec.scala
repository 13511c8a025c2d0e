package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Reachability ratchet: `scripts/unreached.py` prints the src/main
  * objects, members and types that nothing but specs reaches, and
  * `scripts/unreached_allow.tsv` lists each one with why it stays. The
  * two must name exactly the same things: a new unreached name fails
  * until it gets a reason (or a caller, or is deleted), and a listed
  * name that is no longer printed fails until its row goes, so the list
  * only shrinks. Names are compared, not line numbers. */
class ReachabilitySpec extends AnyFunSuite {

  private val allowPath = Paths.get("scripts/unreached_allow.tsv")

  /** `name -> reason` rows of the allowlist (comments and blanks skipped). */
  private lazy val allowed: Seq[(String, String)] =
    Files.readAllLines(allowPath).asScala.toSeq
      .filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val cols = l.split("\t", 2)
        cols(0).trim -> (if (cols.length > 1) cols(1).trim else "")
      }

  /** The names the script prints: `path:line  Name[ [main]]` per line. */
  private lazy val printed: Seq[String] =
    Seq("python3", "scripts/unreached.py").!!.linesIterator
      .filter(_.trim.nonEmpty)
      .map(_.split("  ", 2)(1).split(" ")(0))
      .toSeq

  test("unreached.py prints exactly the names in unreached_allow.tsv") {
    val names = allowed.map(_._1)
    assert(names.diff(names.distinct).isEmpty,
      s"duplicate allowlist rows: ${names.diff(names.distinct).mkString(", ")}")
    val unlisted = printed.filterNot(names.toSet)
    val stale = names.filterNot(printed.toSet)
    assert(unlisted.isEmpty && stale.isEmpty,
      s"printed but not allowlisted (give it a caller, delete it, or add a " +
        s"row with its reason): ${unlisted.mkString(", ")}; allowlisted but " +
        s"no longer printed (delete the row): ${stale.mkString(", ")}")
  }

  test("every allowlist row says why the name stays") {
    // a SURVEY id (S3, S12/ST12, F4/F5, §1, ...) or one of the fixed reasons
    val reason = ("""^(§\d+|[A-Z]{1,2}\d+(/[A-Z]{1,2}\d+)*|main|codegen helper|""" +
      """driver contract|service loader|spark\.sql\.extensions seam)\b.*\S""").r
    val bad = allowed.filterNot { case (_, why) => reason.matches(why) }
    assert(bad.isEmpty, s"rows without a reason: ${bad.map(_._1).mkString(", ")}")
  }
}
