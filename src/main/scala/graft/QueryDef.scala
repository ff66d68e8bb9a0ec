package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine capability: a Spark-side implementation plus
  * (when ANSI-expressible) the equivalent DuckDB oracle SQL over the same
  * parquet tables.
  *
  * Conventions enforced across the corpus so hash-comparison is stable:
  *  - every output column is explicitly aliased, identically on both sides;
  *  - every query ends in a deterministic ORDER BY over a unique key;
  *  - double-typed aggregates are either computed exactly (the exact sums
  *    of [[graft.operators.Kit]] — order-independent, engine-independent)
  *    or rounded.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)
