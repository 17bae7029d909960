package graft.sources

import java.nio.file.{Files, Paths}

/** Commits files the way a catalog records them when their footers cannot
  * be read at commit time (an object store the driver holds no
  * credentials for, a file not yet visible): with the caller's metrics
  * only, so a file committed without any has unknown counts, sizes and
  * bounds. Each local file is moved aside while `commit` runs and put back
  * after it.
  */
object UncountedCommit {
  def apply[T](files: Seq[GraftCatalog.AddedFile])(
      commit: Seq[GraftCatalog.AddedFile] => T): T = {
    val moved = files.map { f =>
      val p = Paths.get(f.path.replaceFirst("^file:/+", "/"))
      val aside = p.resolveSibling(p.getFileName.toString + ".aside")
      Files.move(p, aside)
      p -> aside
    }
    try commit(files)
    finally moved.foreach { case (p, aside) => Files.move(aside, p) }
  }
}
