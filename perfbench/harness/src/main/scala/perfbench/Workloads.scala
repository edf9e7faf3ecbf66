package perfbench

/** The registry workload's query list and the family / layer tags
  * that trace records roll up by. */
object Workloads {
  /** Job-heavy families at sf0.01 (one query each of graph, recsys,
    * ml, bpe, embedding, corpus and dedup): construction-time eager
    * jobs (checkpoints, collect/count probes, `Par.seq` chains) and per-job
    * scheduling dominate; data work is small. Sized so that one pass
    * fits the run length on a 4-core host. */
  val iterative: Seq[String] = Seq(
    "bpe_train_merges", "graph_bfs_hops", "recsys_item_cosine", "ml_logreg_purchase",
    "embedding_coreset", "corpus_shuffle", "dedup_exact")

  def family(op: String): String = op.takeWhile(c => c != '_' && c != '.')

  /** Medallion layer of a registry query or pipeline step. */
  def layer(op: String): String = family(op) match {
    case "silver" => "silver"
    case "gold" => "gold"
    case "serving" => "serving"
    case "catalog" => "sources"
    case _ => "analytics"
  }
}
