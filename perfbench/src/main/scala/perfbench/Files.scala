package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardCopyOption, Files => NioFiles}

object Files {
  def writeLines(path: String, lines: Seq[String]): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    NioFiles.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Parquet files directly under `dir`, sorted by name. */
  def parquetFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getPath).sorted

  /** Visible subdirectories of `dir` (names not starting with '.' or '_'). */
  def subdirs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getPath).sorted

  /** (bytes, files) of everything under `dir`. */
  def usage(dir: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isFile) (f.length, 1L)
      else Option(f.listFiles()).toSeq.flatten.map(walk).foldLeft((0L, 0L)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }
    walk(new File(dir))
  }

  /** Copies `src` into `dir` under a hidden name, then renames it into
   *  place, so a directory listing never sees a partial file. */
  def publish(src: String, dir: String): Unit = {
    val name = new File(src).getName
    val tmp = Paths.get(dir, s".$name.tmp")
    NioFiles.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    NioFiles.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  def mkdirs(dir: String): String = { new File(dir).mkdirs(); dir }
}
