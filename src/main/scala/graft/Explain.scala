package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named queries to files
  * (round-17 deliverable: plans/r17/<query>_{before,after}.txt). A
  * streaming gate's function RUNS its stream and returns the final
  * batch frame, so for those the captured plan is the post-stream
  * read — stated in the file header so a reader isn't misled.
  *
  * r18 (VERDICT r17 "Next #7"): `<name>` may also be one of the
  * LOOP-ROUND probes below — the per-round INNER plan of an
  * iterative operator, explained BEFORE its localCheckpoint, which
  * the normal dump cannot show (the checkpoint truncates lineage).
  * Each probe builds the loop's real input from the gated query's
  * own construction and returns ONE uncheckpointed round.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> <suffix> <name>...
  */
object Explain {
  /** Per-round inner-plan probes for the checkpointed loops. */
  private def roundProbes: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    Map(
      // q59/q74/q109/q112/q133/q181/q186 loop body: one components
      // relax round over the real banded edges
      "q59_components_round" -> { (s, d) =>
        val edges = graft.operators.Dedup.minhashLsh(s, d)
        val adj = edges.select(col("d1").as("v"), col("d2").as("u"))
          .union(edges.select(col("d2").as("v"), col("d1").as("u")))
        val labels = adj.select(col("v")).distinct()
          .withColumn("label", col("v"))
        graft.operators.Dedup.componentsRelaxRound(adj, labels, false)
      },
      // q94/q450/q455/q476/q477/q480 loop body: one PageRank round
      // over the real co-purchase adjacency (checkpoint=false keeps
      // the composed contrib-join + agg visible)
      "q450_pagerank_round" -> { (s, d) =>
        val edges = graft.operators.Relational.copurchaseEdges(s, d)
        val adj = edges.select(col("pa").as("v"), col("pb").as("u"))
          .union(edges.select(col("pb").as("v"), col("pa").as("u")))
        graft.operators.Dedup.pageRankOf(adj, 1, checkpoint = false)
      },
      // q478 beam-search loop: one expansion round, checkpoints
      // replaced by identity so the full round plan composes
      "q478_beam_round" -> { (s, d) =>
        graft.operators.Similarity.graphAnnBeam(s, d, rounds = 1,
          cp = identity)
      })
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0); val out = args(1); val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = Bench.localSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val df = roundProbes.get(n)
        .map(f => f(spark, dir))
        .getOrElse(SparkEntry.queries(n)(spark, dir))
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"${n}_$suffix.txt"),
        (s"== $n @ $dir (explain formatted) ==\n" + txt).getBytes("UTF-8"))
      org.apache.spark.sql.graft.StateStoreHooks.unloadAll()
      println(s"[explain] wrote $n")
    }
    spark.stop()
  }
}
