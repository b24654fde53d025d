package graftbench

import graft.SparkEntry
import graft.queries.QueryDef

/** The workloads and the rules that fix their query lists. The lists are
  * fixed by position and by name, never by how fast or steady a query
  * is; their size is set by the run budget (perfbench/README.md). */
object Workloads {

  def apply(name: String, seed: Long): Seq[Main.Item] = name match {
    case "algebra" => algebra.map(Main.Def) ++ Algebra.programs(seed).map(Main.Gen)
    case "curation" => curation.map(Main.Def)
    // the generated programs alone, for perfbench/selftest.py
    case "programs" => Algebra.programs(seed).map(Main.Gen)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Every fourth reference-surface query in declaration order, starting
    * with the first: 5 of the 17 `cb_*` queries. */
  def algebra: Seq[QueryDef] = SparkEntry.defs.filter(_.name.startsWith("cb_"))
    .zipWithIndex.collect { case (d, i) if i % 4 == 0 => d }

  /** The curation targets the ROADMAP names, plus one streaming twin for
    * each operator family they cover (Dedup, Corpus, TextAnalysis). */
  val CurationNames: Seq[String] = Seq(
    "q_scrub_recall", "q_scrub_composite", "q_scrub_composite_xx",
    "q_text_embed_neardup", "q_simhash_complete", "q_repeat_scrub",
    "q_stream_neardup", "q_stream_repeat_scrub", "q_stream_curation")

  def curation: Seq[QueryDef] = {
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    CurationNames.map(byName)
  }
}
