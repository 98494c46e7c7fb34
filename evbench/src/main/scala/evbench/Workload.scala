package evbench

/** One unit of work in a pass: a parser pipeline from raw files to its
  * evidence file, or one registry query to a noop sink.
  */
sealed trait Item { def name: String }

/** `inputs` maps each pipeline input name to its staged file. */
final case class PipeItem(name: String, inputs: Seq[(String, String)]) extends Item

final case class QueryItem(name: String) extends Item

/** What staging left on disk: the items, their input row count (the
  * base of `rows_per_s`) and the staged paths (the base of the input
  * digest).
  */
final case class Staged(items: Seq[Item], inputRows: Long, paths: Seq[String])

final case class Workload(
    name: String,
    withExtensions: Boolean,
    stage: (Long, String, Double) => Staged,
)

object Workload {
  import Inputs._

  private def n(rows: Long, scale: Double): Long = math.max(1L, (rows * scale).round)

  /** Large outputs: about as many evidence rows as input rows, so the
    * single-task gzip write of the K1 sink dominates each item.
    */
  val evidenceSink = Workload("evidence_sink", withExtensions = false, (seed, dir, scale) => {
    val cb = n(Size.cancerBiomarkers, scale)
    val cr = n(Size.crisprBrain, scale)
    val be = n(Size.baselineGenes, scale)
    val p = Map(
      "cb" -> s"$dir/cancer_biomarkers_raw.tsv",
      "cr" -> s"$dir/crispr_brain_raw.tsv",
      "lut" -> s"$dir/crispr_brain_disease_lut.tsv",
      "be" -> s"$dir/baseline_expression_wide.tsv")
    cancerBiomarkers(p("cb"), seed, cb)
    crisprBrain(p("cr"), p("lut"), seed, cr)
    baselineExpression(p("be"), seed, be, Size.baselineTissues)
    Staged(Seq(
      PipeItem("cancer_biomarkers", Seq("raw" -> p("cb"))),
      PipeItem("crispr_brain", Seq("raw" -> p("cr"), "diseaseLut" -> p("lut"))),
      PipeItem("baseline_expression", Seq("wide" -> p("be"))),
    ), cb + cr + be, Seq(p("cb"), p("cr"), p("lut"), p("be")))
  })

  /** The registry slice, in run order: two small parser-shaped queries
    * where per-job overhead dominates, the decimal Stouffer sum and the
    * shortest-path driver tier.
    */
  val registryQueries: Seq[String] = Seq(
    "q_regex_rulebook", "q_pvalue_motif", "q_stouffer_p", "q_harmonic_centrality")

  /** Small outputs: regex, melt, shuffle and filter work upstream of a
    * small K1 write, then the registry slice over fixed star-schema
    * tables to a noop sink (no Writers call at all). A change to the K1
    * sink should not move this workload; a change to eager construction,
    * the driver tiers or the decimal sum should.
    */
  val transformRegistry = Workload("transform_registry", withExtensions = true, (seed, dir, scale) => {
    val pa = n(Size.panelapp, scale)
    val en = n(Size.encore, scale)
    val gb = n(Size.genebass, scale)
    val p = Map(
      "pa" -> s"$dir/panelapp_raw.tsv",
      "en" -> s"$dir/encore_wide.tsv",
      "gb" -> s"$dir/genebass_raw.parquet")
    panelapp(p("pa"), seed, pa)
    encore(p("en"), seed, en, Size.encoreCellLines)
    genebass(p("gb"), seed, gb)
    // The star tables ignore the seed, so the recorded query digests hold.
    val star = Star.write(dir)
    Staged(Seq(
      PipeItem("panelapp", Seq("raw" -> p("pa"))),
      PipeItem("encore", Seq("wide" -> p("en"))),
      PipeItem("genebass", Seq("raw" -> p("gb"))),
    ) ++ registryQueries.map(QueryItem),
      pa + en + gb + Star.Orders * (1 + Star.LinesPerOrder) + Star.Customers,
      Seq(p("pa"), p("en"), p("gb")) ++ star)
  })

  val all: Seq[Workload] = Seq(evidenceSink, transformRegistry)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}
