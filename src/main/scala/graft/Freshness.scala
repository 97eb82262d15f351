package graft

/** Shared mtime-based freshness primitive for every rule that serves a
  * precomputed artifact (RollupRewrite, ResultCache, Artifacts). One
  * definition of "source unchanged" so the rules cannot drift: the max
  * lastModified over the directory AND its immediate children, so an
  * append landing inside a one-level partition layout (dir/p=A/part-...)
  * invalidates even though the root dir's own mtime is untouched. In Doris
  * all three guards are transactional table versions; dir mtimes are the
  * offline-harness stand-in.
  */
object Freshness {
  def mtime(path: String): Long = {
    val f = new java.io.File(path.stripPrefix("file:"))
    if (!f.exists()) 0L
    else {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      (f.lastModified() +: kids.map(_.lastModified()).toSeq).max
    }
  }
}
