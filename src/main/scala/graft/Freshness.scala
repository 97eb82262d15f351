package graft

/** The one freshness rule for everything served from a precomputed result
  * ([[Artifacts.memo]] slots, [[plans.ResultCache]], the rollup and MV
  * defs [[plans.RollupRewrite]] serves): a result is current while the
  * [[version]] of its sources equals the version its build read.
  *
  * A version is the exact vector of `(path, length, mtime)` over each
  * source and its immediate children, so an append landing inside a
  * one-level partition layout (dir/p=A/part-...) moves it even though the
  * root dir's own mtime is untouched. It is compared for equality only:
  * never reduced to a max (a rewritten source that stays older than a
  * sibling would be missed) and never compared with a clock (a load
  * landing between a build's read and its registration would pass). A
  * build takes the version BEFORE it reads its sources, so a write racing
  * the build retires the result instead of hiding under it. In Doris this
  * is the transactional table version; file stats are the offline-harness
  * stand-in.
  */
object Freshness {
  type Version = Seq[(String, Long, Long)]

  def version(paths: String*): Version =
    paths.distinct.sorted.flatMap { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      val kids = Option(f.listFiles()).map(_.toSeq.sortBy(_.getName))
        .getOrElse(Nil)
      // a missing path reads (path, 0, 0): distinct from any state it had
      (f +: kids).map(k => (k.getPath, k.length(), k.lastModified()))
    }
}
