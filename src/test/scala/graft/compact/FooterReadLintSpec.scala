package graft.compact

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every driver-side parquet footer read behind [[KnownFiles]].
  *
  * Parquet's one-argument `ParquetFileReader.open(InputFile)` builds
  * its read options from parquet's defaults, not from the session's
  * Hadoop conf: each open then costs about 11 ms (4-core VM, 1562-row
  * files), and a lake written under session-level encryption cannot be
  * read. `KnownFiles` decides the options, the record filter and the
  * pool in one place; this spec makes a raw footer read (`open`,
  * `readFooter` or a constructor) anywhere else in the program a test
  * failure.
  */
class FooterReadLintSpec extends AnyFunSuite {

  private val rawRead = """ParquetFileReader\s*\.\s*(open|readFooter)\b|new\s+ParquetFileReader\b""".r

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("no program file other than KnownFiles.scala opens a parquet footer") {
    val main = new File("src/main/scala")
    val files = scalaFiles(main)
    assert(files.exists(_.getName == "KnownFiles.scala"), s"no program sources found under ${main.getAbsolutePath}")
    val offenders = files.filterNot(_.getName == "KnownFiles.scala").flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if rawRead.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(offenders.isEmpty, s"raw parquet footer reads outside KnownFiles:\n${offenders.mkString("\n")}")
  }
}
