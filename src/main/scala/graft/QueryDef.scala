package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine capability: a Spark-side implementation plus
  * (when ANSI-expressible) the equivalent DuckDB oracle SQL over the same
  * parquet tables.
  *
  * Two forms:
  *  - [[QueryDef.sql]]: ONE text, the oracle statement, which is also what
  *    runs — through the graft dialect pipeline (`Graft.query`) on the
  *    shared per-session engine ([[Graft.engine]]). This is the
  *    default: the engine is a SQL engine, and the query is spelled once.
  *  - `QueryDef(name, oracle) { (s, dir) => … }`: a hand-written DataFrame
  *    body next to the oracle text. A body stays only where the SQL path
  *    cannot carry what it does: it calls a native kernel
  *    (`BandedThetaJoin`, `ExactPercentile`, `Recursion`, `SkewJoin`,
  *    `Multimodal`, …), a spec pins a plan property of it (a truth-tier
  *    guard, `Kit.pin`/`Kit.spread`, a broadcast, a bounded window), its
  *    statement does not yet run through `Graft.query` with the oracle's
  *    result, the SQL plan gains a cartesian product or a broadcast
  *    nested-loop join whose build side grows with the data (the compiled
  *    plan at ScaleCheck's 10× and 100× corpora), or its SQL path is
  *    measured slower: in `graft.tools.SqlProbe`'s interleaved warm runs at
  *    sf0.1 the SQL median is above the body's and the SQL side loses most
  *    of the pairs.
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

object QueryDef {

  /** The SQL form: `text` is both the oracle statement and the statement run. */
  def sql(name: String, text: String): QueryDef =
    QueryDef(name, Some(text))((s, dir) => Graft.engine(s, dir).query(text))
}
