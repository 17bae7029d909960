package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scan of `src/main/scala`: no driver-side parquet footer open may
  * build its read options from a fresh Hadoop `Configuration` (the
  * one-argument `ParquetFileReader.open(in)` does), and no code may call
  * `new Configuration()` (each instance re-parses the XML default
  * resources on first use). Both paid an XML parse per footer or per
  * statement on the read path. Sites that must keep one are listed in
  * [[HadoopConfHygieneSpec.allowed]] with the reason.
  */
class HadoopConfHygieneSpec extends AnyFunSuite {
  import HadoopConfHygieneSpec._

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(Path, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq

  /** Code only: line comments and doc/block comment lines blanked. */
  private def code(text: String): String =
    text.linesIterator.map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
      else l.replaceAll("//.*$", "")
    }.mkString("\n")

  /** The argument count of each call starting at `from` (the index just
    * past its opening parenthesis): top-level commas + 1, 0 when empty.
    */
  private def argCount(text: String, from: Int): Int = {
    var depth = 0
    var commas = 0
    var i = from
    var nonBlank = false
    while (i < text.length && depth >= 0) {
      text.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => commas += 1
        case c if !c.isWhitespace => nonBlank = true
        case _ => ()
      }
      i += 1
    }
    if (!nonBlank && commas == 0) 0 else commas + 1
  }

  private def violations(text: String): Seq[String] = {
    val c = code(text)
    val opens = "ParquetFileReader\\.open\\(".r.findAllMatchIn(c)
      .filter(m => argCount(c, m.end) == 1).map(_ => "ParquetFileReader.open(in)")
    val confs = "new\\s+(org\\.apache\\.hadoop\\.conf\\.)?Configuration\\(\\s*\\)".r
      .findAllMatchIn(c).map(_ => "new Configuration()")
    (opens ++ confs).toSeq
  }

  test("the scan sees the sources and finds a planted violation") {
    assert(Files.isDirectory(root), s"run from the project root: $root not found")
    assert(sources.size > 50)
    assert(violations("val r = org.apache.parquet.hadoop.ParquetFileReader.open(\n  in)") ==
      Seq("ParquetFileReader.open(in)"))
    assert(violations("ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())").isEmpty)
    assert(violations("val c = new org.apache.hadoop.conf.Configuration()") ==
      Seq("new Configuration()"))
    assert(violations("// a bare `new Configuration()` here").isEmpty)
    assert(violations("new Configuration(base)").isEmpty)
  }

  test("no one-argument footer open and no fresh Hadoop Configuration outside the allowlist") {
    val found = sources.flatMap { case (p, text) =>
      val rel = root.relativize(p).toString
      val allow = allowed.getOrElse(rel, Map.empty[String, (Int, String)])
      violations(text).groupBy(identity).toSeq.flatMap { case (v, hits) =>
        val permitted = allow.get(v).fold(0)(_._1)
        if (hits.size > permitted) Some(s"$rel: ${hits.size} x $v (allowed $permitted)")
        else None
      }
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}

object HadoopConfHygieneSpec {

  /** path under src/main/scala → violation → (count allowed, reason). */
  val allowed: Map[String, Map[String, (Int, String)]] = Map(
    "graft/sources/CompactionRunner.scala" -> Map(
      "new Configuration()" -> (1,
        "defaultHadoopConf's one parsed instance, copied for every session-less metadata reader")))
}
