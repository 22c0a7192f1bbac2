package perfbench

/** The benchmark's workloads: registry queries by short name (`q15`),
  * run in passes. Why each was chosen is in perfbench/README.md.
  */
object Workloads {

  /** A workload: its registry queries, the fixture scale they read, and
    * how many warm passes of an untraced run enter its metrics.
    */
  final case class Workload(scale: String, queries: Seq[String], warmPasses: Int)

  val all: Map[String, Workload] = Map(
    // The paper's own shape: a CD-1 epoch, the layer-wise DBN stack, the
    // 80-epoch fine-tuning loop and the classifier, plus the native
    // sigmoid kernel. Many small driver-side jobs, few bytes.
    "dbn_train" -> Workload("sf0.1", Seq("q15", "q54", "q111", "q34", "q47"), 4),
    // Queries whose work `.count()` lets Catalyst prune away, plus the
    // per-JVM sim-join staging cache through `graft.Scratch` (q000 builds
    // it, q237 consumes it) and a driver-side thread pool (q215).
    "full_result" -> Workload("sf0.01", Seq("q67", "q275", "q61", "q90", "q96", "q36",
      "q000", "q237", "q215"), 3),
  )

  /** Every workload query, by short name. */
  def queries: Seq[String] = all.values.flatMap(_.queries).toSeq.distinct

  /** Full registry names for short names; a short name must match
    * exactly one registry entry.
    */
  def resolve(short: Seq[String], registry: Set[String]): Seq[String] = {
    val byShort = registry.groupBy(_.takeWhile(_ != '_'))
    short.map { s =>
      byShort.get(s) match {
        case Some(names) if names.size == 1 => names.head
        case _ => throw new IllegalArgumentException(s"no unique registry query for $s")
      }
    }
  }

  /** The query order of one pass. The cold pass (0) keeps the listed
    * order: whichever query runs first absorbs the JVM's first use of
    * its code paths, so a permuted cold pass would measure the order as
    * much as the program. Warm passes are permutations drawn from the
    * run's seed and the pass number: every seed gives its own orders and
    * the same seed gives the same ones.
    */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    if (pass == 0) queries
    else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
}
