package perfbench

/** Maps a Spark call site to the library module that caused it. */
object Layers {

  /** The library's layers: the `graft.<module>` packages the benchmark
    * attributes work to. `graft.core` holds shared helpers (thread pools,
    * lineage cuts) and is skipped, so its work lands on the module that
    * called it. */
  val Modules: Seq[String] =
    Seq("warehouse", "runlog", "materialize", "streaming", "llm", "operators",
      "functions")

  /** Work whose call site holds no frame of a library module. */
  val Unattributed = "unattributed"

  private val Frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.""".r

  /** The module of the first (innermost) `graft.<module>` frame in a call
    * site's long form (`StageInfo.details`, the SQL execution details), one
    * frame per line. */
  def moduleOf(callSite: String): String =
    Option(callSite).iterator
      .flatMap(_.linesIterator)
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(Modules.contains)
      .getOrElse(Unattributed)
}
