package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.Dedup

/** q111's persisted-index contract (SURVEY §6 / round-4 "what's
  * missing" #3): the base snapshot + band index is written ONCE and
  * every increment probes the parquet index — the probe must not
  * rescan or re-band the base documents.
  */
class PersistedIndexSpec extends SparkSpec {

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
        rel.location.rootPaths.map(_.toString)
    }.flatten

  test("q111 persisted path computes exactly the inline q105 verdicts") {
    val inline    = Dedup.incrementalDedup(spark, sfDir)
    val persisted = Dedup.persistedIncrementalDedup(spark, sfDir)
    assert(persisted.except(inline).count() == 0 &&
      inline.except(persisted).count() == 0,
      "persisted-index probe diverged from the inline incremental dedup")
  }

  test("probeBaseIndex reads the index + delta only — the base documents are never rescanned") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = scratchDir("graft-idxspec").toString
    Dedup.writeBaseIndex(docs.filter(col("doc_id") % 2 === 0), idx)

    val probe = Dedup.probeBaseIndex(spark, idx,
      docs.filter(col("doc_id") % 2 =!= 0))
    val paths = scanPaths(probe)
    val docScans = paths.count(_.contains("documents.parquet"))
    val idxScans = paths.count(_.contains(idx))
    // delta banding + delta hashing are two reads of the documents
    // table restricted to odd ids; the base side must come from the
    // index parquet alone
    assert(idxScans >= 2, s"probe plan does not read the index: $paths")
    assert(paths.size == docScans + idxScans,
      s"probe plan reads something besides delta + index: $paths")
    // and the verdict distribution is sane: both dup kinds + keeps
    val verdicts = probe.groupBy(col("verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verdicts.getOrElse("keep", 0L) > 0)
    assert(verdicts.getOrElse("drop_exact", 0L) + verdicts.getOrElse("drop_near", 0L) > 0)
  }

  test("q181 probeComponentIndex reads the index + delta only — base docs never rescanned") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val stage = scratchDir("graft-ccspec").toString
    Dedup.writeComponentIndex(spark, docs.filter(col("doc_id") % 4 =!= 3), stage)

    val probe = Dedup.probeComponentIndex(spark, stage,
      docs.filter(col("doc_id") % 4 === 3))
    val paths = scanPaths(probe)
    val docScans = paths.count(_.contains("documents.parquet"))
    val idxScans = paths.count(_.contains(stage))
    // the band-index probe and the super-node propagation run
    // EAGERLY inside probeComponentIndex (checkpoint-truncated), so
    // the returned frame's scan set is labels parquet + the delta
    // restriction of documents — anything else is a base rescan
    // leaking in
    assert(idxScans >= 1, s"probe plan does not read the label index: $paths")
    assert(paths.forall(p =>
        p.contains("documents.parquet") || p.contains(stage)),
      s"probe plan reads something besides delta + index: $paths")
    assert(docScans >= 1)
  }
}
