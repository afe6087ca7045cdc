package graft

/** Helpers for the source guards: specs that pin where a construct may
  * appear in the project's own code. Paths are relative to the project
  * root, the working directory of `sbt test`. */
object SourceScan {

  /** Every `.scala` file under `root` (e.g. "src/main"); fails when the
    * tree is missing, so a guard never passes vacuously. */
  def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = walk(new java.io.File(root))
    assert(files.size > 20, s"$root not found from ${sys.props("user.dir")}")
    files
  }

  /** The file's lines with prose blanked: scaladoc/comment lines become
    * "" and trailing // comments are cut, so index i is still line i + 1. */
  def codeLines(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map { l =>
      if (l.trim.startsWith("*") || l.trim.startsWith("/*")) ""
      else l.split("//", 2)(0)
    }.toList
    finally src.close()
  }

  /** `path:line` of every code line in `files` that contains `needle`. */
  def codeHits(files: Seq[java.io.File], needle: String): Seq[String] =
    files.flatMap(f => codeLines(f).zipWithIndex.collect {
      case (l, i) if l.contains(needle) => s"${f.getPath}:${i + 1}"
    })
}
