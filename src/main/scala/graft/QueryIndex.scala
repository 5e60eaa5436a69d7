package graft

/** Dev tool: regenerate docs/QUERY_INDEX.md from the live pack list
  * (`tools/run.sh graft.QueryIndex docs/QUERY_INDEX.md`) so the index
  * can never drift from `SparkEntry.packs`; HarnessContractSuite fails
  * when the committed file differs from [[render]].
  */
object QueryIndex {

  /** The index document for `packs`: one section per pack, its query
    * names sorted, three to a line.
    */
  def render(packs: Seq[QueryPack]): String = {
    val sections = packs.map { p =>
      val cls = p.getClass.getSimpleName.stripSuffix("$")
      val names = p.queries.keys.toSeq.sorted
      val body = names.grouped(3).map(_.map(n => s"`$n`").mkString(", "))
        .mkString("\n")
      s"## $cls (${names.size})\n\n$body\n"
    }
    val total = packs.map(_.queries.size).sum
    s"# Query index\n\nAuto-generated from `SparkEntry.packs`" +
      s" -- $total oracle-checked queries.\n" +
      s" Regenerate: `tools/run.sh graft.QueryIndex docs/QUERY_INDEX.md`\n\n" +
      sections.mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val doc = render(SparkEntry.packs)
    args.headOption match {
      case Some(f) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), doc)
        println(s"wrote $f (${SparkEntry.queries.size} queries)")
      case None => println(doc)
    }
  }
}
