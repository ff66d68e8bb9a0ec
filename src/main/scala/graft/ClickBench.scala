package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ClickBench-shaped performance suite (reference:
  * tests/performance/clickbench/clickbench.py:18-62 — 43 wide-table
  * aggregation / filter / regex statements over a hits-like table),
  * re-targeted at the driver testdata: `events` plays hits (with an
  * `event_date` and a JSON-extracted `k` counter widening the view) and
  * `documents` supplies the URL/Title-style text columns for the LIKE /
  * regexp shapes. Query numbering follows the reference so a shape can be
  * compared statement-by-statement.
  *
  * This is a PERF corpus, not a correctness gate: Bench runs it under the
  * same interleaved-trial instrument and reports a separate `clickbench`
  * section in BENCH_r{N}.json, tracked round over round. Statements run
  * through the full graft dialect pipeline (`Graft.query`) on the shared
  * per-session engine ([[Graft.engine]]), so the numbers include
  * parse/rewrite cost like the reference harness's do.
  */
object ClickBench {

  /** events widened to a hits-like shape: one scan-friendly view, derived
    * date + JSON counter columns computed in the scan projection.
    * [[Graft.engine]] registers it as `cb_hits` next to the dir's tables. */
  private[graft] val hitsView = """
    SELECT event_id, ts, CAST(ts AS DATE) AS event_date, user_id, event_type,
           value, CAST(props ->> 'k' AS INT) AS k
    FROM events"""

  /** The 90-sum wide aggregate (reference statement 30). */
  private val wideSums: String =
    (0 to 89).map(i => s"sum(k + $i) AS s$i").mkString("SELECT ", ", ", " FROM cb_hits")

  val statements: Seq[(String, String)] = Seq(
    "cb01" -> "SELECT COUNT(*) AS n FROM cb_hits",
    "cb02" -> "SELECT COUNT(*) AS n FROM cb_hits WHERE k <> 0",
    "cb03" -> "SELECT SUM(k) AS s, COUNT(*) AS n, AVG(value) AS a FROM cb_hits",
    "cb04" -> "SELECT AVG(user_id) AS a FROM cb_hits",
    "cb05" -> "SELECT COUNT(DISTINCT user_id) AS u FROM cb_hits",
    "cb06" -> "SELECT COUNT(DISTINCT event_type) AS p FROM cb_hits",
    "cb07" -> "SELECT MIN(event_date) AS mn, MAX(event_date) AS mx FROM cb_hits",
    "cb08" -> "SELECT k, COUNT(*) AS c FROM cb_hits WHERE k <> 0 GROUP BY k ORDER BY c DESC",
    "cb09" -> "SELECT user_id % 100 AS region, COUNT(DISTINCT user_id) AS u FROM cb_hits GROUP BY user_id % 100 ORDER BY u DESC LIMIT 10",
    "cb10" -> "SELECT user_id % 100 AS region, SUM(k) AS s, COUNT(*) AS c, AVG(value) AS a, COUNT(DISTINCT user_id) AS u FROM cb_hits GROUP BY user_id % 100 ORDER BY c DESC LIMIT 10",
    "cb11" -> "SELECT event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY u DESC LIMIT 10",
    "cb12" -> "SELECT k % 10 AS model_class, event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY k % 10, event_type ORDER BY u DESC LIMIT 10",
    "cb13" -> "SELECT event_type, COUNT(*) AS c FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY c DESC LIMIT 10",
    "cb14" -> "SELECT event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY u DESC LIMIT 10",
    "cb15" -> "SELECT k, event_type, COUNT(*) AS c FROM cb_hits WHERE event_type <> '' GROUP BY k, event_type ORDER BY c DESC LIMIT 10",
    "cb16" -> "SELECT user_id, COUNT(*) AS c FROM cb_hits GROUP BY user_id ORDER BY c DESC LIMIT 10",
    "cb17" -> "SELECT user_id, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, event_type ORDER BY c DESC LIMIT 10",
    "cb18" -> "SELECT user_id, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, event_type LIMIT 10",
    "cb19" -> "SELECT user_id, extract(minute FROM ts) AS m, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, extract(minute FROM ts), event_type ORDER BY c DESC LIMIT 10",
    "cb20" -> "SELECT user_id FROM cb_hits WHERE user_id = 42",
    "cb21" -> "SELECT COUNT(*) AS n FROM documents WHERE text LIKE '%spark%'",
    "cb22" -> "SELECT lang, MIN(text) AS t, COUNT(*) AS c FROM documents WHERE text LIKE '%spark%' AND lang <> '' GROUP BY lang ORDER BY c DESC LIMIT 10",
    "cb23" -> "SELECT lang, MIN(text) AS t, MIN(source) AS s, COUNT(*) AS c, COUNT(DISTINCT doc_id) AS d FROM documents WHERE text LIKE '%query%' AND text NOT LIKE '%slow%' AND lang <> '' GROUP BY lang ORDER BY c DESC LIMIT 10",
    "cb24" -> "SELECT * FROM documents WHERE text LIKE '%spark%' ORDER BY doc_id LIMIT 10",
    "cb25" -> "SELECT lang FROM documents WHERE lang <> '' ORDER BY doc_id LIMIT 10",
    "cb26" -> "SELECT lang FROM documents WHERE lang <> '' ORDER BY lang LIMIT 10",
    "cb27" -> "SELECT lang FROM documents WHERE lang <> '' ORDER BY doc_id, lang LIMIT 10",
    "cb28" -> "SELECT source, AVG(length(text)) AS l, COUNT(*) AS c FROM documents WHERE text <> '' GROUP BY source HAVING COUNT(*) > 100 ORDER BY l DESC LIMIT 25",
    "cb29" -> raw"SELECT regexp_replace(text, '^(\\w+)\\s.*$$', '$$1') AS k2, AVG(length(text)) AS l, COUNT(*) AS c, MIN(text) AS t FROM documents WHERE text <> '' GROUP BY regexp_replace(text, '^(\\w+)\\s.*$$', '$$1') HAVING COUNT(*) > 10 ORDER BY l DESC LIMIT 25",
    "cb30" -> wideSums,
    "cb31" -> "SELECT k, user_id % 256 AS ip, COUNT(*) AS c, SUM(k) AS s, AVG(value) AS a FROM cb_hits WHERE event_type <> '' GROUP BY k, user_id % 256 ORDER BY c DESC LIMIT 10",
    "cb32" -> "SELECT event_id, user_id, COUNT(*) AS c, SUM(k) AS s, AVG(value) AS a FROM cb_hits WHERE event_type <> '' GROUP BY event_id, user_id ORDER BY c DESC LIMIT 10",
    "cb33" -> "SELECT event_id, user_id, COUNT(*) AS c, SUM(k) AS s, AVG(value) AS a FROM cb_hits GROUP BY event_id, user_id ORDER BY c DESC LIMIT 10",
    "cb34" -> "SELECT text, COUNT(*) AS c FROM documents GROUP BY text ORDER BY c DESC LIMIT 10",
    "cb35" -> "SELECT 1 AS one, text, COUNT(*) AS c FROM documents GROUP BY 1, text ORDER BY c DESC LIMIT 10",
    "cb36" -> "SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2, user_id - 3 AS u3, COUNT(*) AS c FROM cb_hits GROUP BY user_id, user_id - 1, user_id - 2, user_id - 3 ORDER BY c DESC LIMIT 10",
    "cb37" -> "SELECT user_id, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND event_type = 'view' GROUP BY user_id ORDER BY pv DESC LIMIT 10",
    "cb38" -> "SELECT event_type, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND value > 0 GROUP BY event_type ORDER BY pv DESC LIMIT 10",
    "cb39" -> "SELECT user_id, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND event_type <> 'error' GROUP BY user_id ORDER BY pv DESC LIMIT 10 OFFSET 100",
    "cb40" -> "SELECT k, CASE WHEN k = 0 THEN event_type ELSE '' END AS src, user_id % 50 AS dst, COUNT(*) AS pv FROM cb_hits WHERE event_date >= '2024-01-07' AND event_date <= '2024-01-21' GROUP BY k, CASE WHEN k = 0 THEN event_type ELSE '' END, user_id % 50 ORDER BY pv DESC LIMIT 10 OFFSET 100",
    "cb41" -> "SELECT event_id % 1000 AS urlhash, event_date, COUNT(*) AS pv FROM cb_hits WHERE k IN (1, 6) AND user_id % 97 = 13 GROUP BY event_id % 1000, event_date ORDER BY pv DESC LIMIT 10 OFFSET 10",
    "cb42" -> "SELECT CAST(value * 10 AS INT) % 32 AS w, CAST(value * 10 AS INT) % 24 AS h, COUNT(*) AS pv FROM cb_hits WHERE k = 7 GROUP BY CAST(value * 10 AS INT) % 32, CAST(value * 10 AS INT) % 24 ORDER BY pv DESC LIMIT 10 OFFSET 10",
    "cb43" -> "SELECT date_trunc('minute', ts) AS m, COUNT(*) AS pv FROM cb_hits WHERE event_date >= '2024-01-14' AND event_date <= '2024-01-15' AND event_type = 'view' GROUP BY date_trunc('minute', ts) ORDER BY m LIMIT 10 OFFSET 1000"
  )

  /** Bench-compatible query map; each statement runs on the shared engine
    * ([[Graft.engine]]), as do the correctness-gate twins
    * ([[graft.operators.ClickBenchGate]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    statements.map { case (name, sql) =>
      name -> ((s: SparkSession, dir: String) => Graft.engine(s, dir).query(sql))
    }.toMap
}
