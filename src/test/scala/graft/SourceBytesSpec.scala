package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Scala sources stay plain text: a raw C0 control byte (a NUL in a
  * char literal, a vertical tab in a string) makes git treat the file
  * as binary and hides its diffs. Write such characters as escapes.
  */
class SourceBytesSpec extends AnyFunSuite {
  test("no src/**/*.scala contains a C0 control byte other than \\t, \\n, \\r") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toVector)
    assert(files.size > 100, s"only ${files.size} scala sources found")
    // UTF-8 multi-byte sequences never contain a byte below 0x80, so
    // a byte scan sees exactly the control characters
    def offenders(p: Path): Seq[String] = {
      val bytes = Files.readAllBytes(p)
      var line = 1
      val out = Seq.newBuilder[String]
      bytes.foreach { b =>
        if (b == '\n') line += 1
        else if (b >= 0 && b < 0x20 && b != '\t' && b != '\r')
          out += f"$p:$line (0x$b%02x)"
      }
      out.result()
    }
    val bad = files.flatMap(offenders)
    assert(bad.isEmpty, s"raw control bytes at: ${bad.mkString(", ")}")
  }
}
