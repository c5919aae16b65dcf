package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class AnnQualitySpec extends AnyFunSuite {
  import AnnQuality.{BeginMarker, EndMarker, splice}

  private val doc =
    s"""# title
       |
       |$BeginMarker
       || tier | recall |
       || old | 0.5 |
       |$EndMarker
       |
       |## hand-kept section
       |kept as written
       |""".stripMargin

  test("splice replaces only the text between the markers") {
    val out = splice(doc, "| tier | recall |\n| new | 0.6 |\n")
    assert(out ===
      s"""# title
         |
         |$BeginMarker
         || tier | recall |
         || new | 0.6 |
         |$EndMarker
         |
         |## hand-kept section
         |kept as written
         |""".stripMargin)
    // the same tables again change nothing
    assert(splice(out, "| tier | recall |\n| new | 0.6 |\n") === out)
  }

  test("splice fails loudly when a marker is missing, repeated or out of order") {
    val broken = Seq(
      doc.replace(BeginMarker, ""),
      doc.replace(EndMarker, ""),
      doc.replace(EndMarker, s"$EndMarker\n$EndMarker"),
      doc.replace(BeginMarker, "@").replace(EndMarker, BeginMarker).replace("@", EndMarker))
    broken.foreach { d =>
      intercept[IllegalArgumentException](splice(d, "| x |\n"))
    }
  }

  test("the committed ANN_QUALITY.md carries one pair of markers") {
    val committed = Files.readString(Paths.get("ANN_QUALITY.md"))
    val inside = committed.substring(
      committed.indexOf(BeginMarker) + BeginMarker.length + 1, committed.indexOf(EndMarker))
    assert(inside.contains("| tier | mean recall@"))
    assert(splice(committed, inside) === committed)
  }
}
