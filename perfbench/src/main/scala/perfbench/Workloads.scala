package perfbench

/** The three workloads and the query families they are drawn from.
  *
  * Every `SparkEntry.queries` key belongs to exactly one family, decided
  * by its name; [[checkPartition]] refuses to run when a key fits no
  * family or more than one, so a new key cannot go unassigned. Each
  * workload times a fixed core of its family: one process per run has
  * to build, warm, time and check inside the run budget, and a core of
  * a few queries is what fits. The cores are chosen so that every layer
  * the benchmark reports does work on the workload that is meant to
  * move it (see README.md).
  */
object Workloads {
  final case class Workload(name: String, family: String => Boolean, core: Seq[String])

  /** Queries that run a streaming query: the replays plus the served LM. */
  private def streaming(k: String): Boolean = k.startsWith("st_") || k == "tx_lm_serve"

  val all: Seq[Workload] = Seq(
    // every query that runs no streaming query: the reference surface
    // (short scan -> parse kernel -> shuffle -> aggregate, where planning
    // and scheduling weigh, plus the dated batch writer) and the
    // candidate-heavy dedup/similarity operators over Stage.frame memos,
    // where execution, shuffle volume and GC weigh
    Workload("batch-analytics", k => !streaming(k),
      Seq("q5_local_supplier", "ing_jsonl_positions", "ing_dated_write",
        "dd_minhash_lsh", "ss_brute_topk")),
    // micro-batch replays: WAL, state-store commits and per-batch sinks
    Workload("stream-replay", streaming,
      Seq("st_windowed_counts", "st_stream_dedup", "st_dated_sink")))

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Fails unless the families partition `keys` exactly and every core
    * query is a key of its own family. */
  def checkPartition(keys: Set[String]): Map[String, Seq[String]] = {
    val owners = keys.toSeq.sorted.map(k => k -> all.filter(_.family(k)).map(_.name))
    val bad = owners.filter(_._2.size != 1)
    require(bad.isEmpty, "workload families do not partition SparkEntry.queries: " +
      bad.map { case (k, ws) => s"$k -> [${ws.mkString(",")}]" }.mkString("; "))
    all.foreach { w =>
      val stray = w.core.filterNot(k => keys.contains(k) && w.family(k))
      require(stray.isEmpty, s"${w.name} core names keys outside its family: $stray")
    }
    owners.groupBy(_._2.head).map { case (w, ks) => w -> ks.map(_._1) }
  }

  /** The seeded order of one pass over `qs`; pass 0 is the warm pass. */
  def order(qs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(qs)
}
