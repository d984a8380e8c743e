package graft

/** The engine's artifact root (a tmpfs directory when one is writable),
  * which is package-private.
  */
object BenchRoots {
  def artifactRoot: String = graft.sources.TableRefs.tmpfsRoot
}
