package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: `run` builds the Spark result from a scale-factor
  * directory and `oracle` is the DuckDB SQL that must return identical
  * values under identical column names. A query cannot be declared
  * without its oracle.
  *
  * Oracle-parity rules used throughout:
  *   - money/quantity aggregates go through exact DECIMAL arithmetic,
  *     cast to DOUBLE only at the end (bit-identical in both engines);
  *   - ratio columns are plain IEEE divisions of exact integers (never
  *     rounded — identical inputs give identical doubles);
  *   - every query output is deterministically ordered.
  */
final case class Gate(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Gate {

  /** Every gate, one domain file each. */
  def all: Seq[Gate] =
    TpchGates.gates ++ DedupGates.gates ++ CrawlGates.gates ++ MediaGates.gates ++
      RetrievalGates.gates ++ IncrementalGates.gates ++ IcebergGates.gates ++
      GovernanceGates.gates

  /** Index `gates` by name; a reused name fails instead of shadowing. */
  def registry(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
