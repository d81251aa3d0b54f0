package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Test-side reader and writer of the due-schedule snapshot
  * (`dueMs<TAB>leaf` lines sorted by leaf, the format [[DueSchedule]]
  * owns). Both go through the given FileSystem, so a checksummed local
  * fs keeps the `.crc` sibling consistent with the edit.
  */
object ScheduleFile {
  def read(fs: FileSystem, p: Path): Map[String, Long] =
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map { line =>
        val tab = line.indexOf('\t')
        line.substring(tab + 1) -> line.substring(0, tab).toLong
      }.toMap
      finally in.close()
    }

  def write(fs: FileSystem, p: Path, entries: Map[String, Long]): Unit = {
    val out = fs.create(p, true)
    try out.write(entries.toSeq.sorted.map { case (leaf, ms) => s"$ms\t$leaf\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }
}
