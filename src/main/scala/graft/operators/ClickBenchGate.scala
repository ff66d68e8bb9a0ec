package graft.operators

import graft.{Graft, QueryDef}

/** Correctness twins for the ClickBench-shaped perf corpus ([[graft.ClickBench]];
  * reference: tests/performance/clickbench/clickbench.py:18-62).
  *
  * The perf corpus keeps the reference's statement shapes verbatim for
  * round-over-round timing parity; these gate twins run the SAME statements
  * through the same graft dialect pipeline, on the same shared engine and
  * `cb_hits` view ([[graft.Graft.engine]]), but adjusted the minimum needed
  * for a hash-exact DuckDB comparison:
  *
  *   - LIMIT/OFFSET statements gain deterministic tiebreak columns in ORDER
  *     BY (the perf shapes break ties arbitrarily, so the selected row SET
  *     differs run to run and engine to engine).
  *   - Integer sums are CAST to BIGINT (DuckDB's SUM(INT) returns HUGEINT,
  *     which pandas renders as float) and double averages are round(…, 4),
  *     the repo-wide convention.
  *   - double→int casts go through floor() first: DuckDB CAST rounds where
  *     Spark truncates.
  *   - cb18 (LIMIT with no ORDER BY) becomes a deterministic top-N; cb24's
  *     `SELECT *` is kept (documents is all-scalar).
  *
  * The oracle text is the same statement with cb_hits inlined as a subquery
  * (the view only exists Spark-side) — except cb29, where DuckDB spells
  * regex backreferences `\1` vs Spark's `$1`.
  */
object ClickBenchGate {

  /** DuckDB-side inlining of the cb_hits view (ClickBench.hitsView twin). */
  private val hitsSub =
    "(SELECT event_id, ts, CAST(ts AS DATE) AS event_date, user_id, " +
      "event_type, value, CAST(props ->> 'k' AS INT) AS k FROM events) cb_hits"

  private def duck(sql: String): String =
    sql.replace("FROM cb_hits", "FROM " + hitsSub)

  private def gd(name: String, sql: String, oracle: String = null): QueryDef =
    QueryDef(name, Some(Option(oracle).getOrElse(duck(sql)))) { (s, dir) =>
      Graft.engine(s, dir).query(sql)
    }

  private val wideSums: String =
    (0 to 89).map(i => s"CAST(sum(k + $i) AS BIGINT) AS s$i")
      .mkString("SELECT ", ", ", " FROM cb_hits")

  val defs: Seq[QueryDef] = Seq(
    gd("cb01", "SELECT COUNT(*) AS n FROM cb_hits"),
    gd("cb02", "SELECT COUNT(*) AS n FROM cb_hits WHERE k <> 0"),
    gd("cb03", "SELECT CAST(SUM(k) AS BIGINT) AS s, COUNT(*) AS n, round(AVG(value), 4) AS a FROM cb_hits"),
    gd("cb04", "SELECT round(AVG(user_id), 4) AS a FROM cb_hits"),
    gd("cb05", "SELECT COUNT(DISTINCT user_id) AS u FROM cb_hits"),
    gd("cb06", "SELECT COUNT(DISTINCT event_type) AS p FROM cb_hits"),
    gd("cb07", "SELECT MIN(event_date) AS mn, MAX(event_date) AS mx FROM cb_hits"),
    gd("cb08", "SELECT k, COUNT(*) AS c FROM cb_hits WHERE k <> 0 GROUP BY k ORDER BY c DESC, k"),
    gd("cb09", "SELECT user_id % 100 AS region, COUNT(DISTINCT user_id) AS u FROM cb_hits GROUP BY user_id % 100 ORDER BY u DESC, region LIMIT 10"),
    gd("cb10", "SELECT user_id % 100 AS region, CAST(SUM(k) AS BIGINT) AS s, COUNT(*) AS c, round(AVG(value), 4) AS a, COUNT(DISTINCT user_id) AS u FROM cb_hits GROUP BY user_id % 100 ORDER BY c DESC, region LIMIT 10"),
    gd("cb11", "SELECT event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY u DESC, event_type LIMIT 10"),
    gd("cb12", "SELECT k % 10 AS model_class, event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY k % 10, event_type ORDER BY u DESC, model_class, event_type LIMIT 10"),
    gd("cb13", "SELECT event_type, COUNT(*) AS c FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY c DESC, event_type LIMIT 10"),
    gd("cb14", "SELECT event_type, COUNT(DISTINCT user_id) AS u FROM cb_hits WHERE event_type <> '' GROUP BY event_type ORDER BY u DESC, event_type LIMIT 10"),
    gd("cb15", "SELECT k, event_type, COUNT(*) AS c FROM cb_hits WHERE event_type <> '' GROUP BY k, event_type ORDER BY c DESC, k, event_type LIMIT 10"),
    gd("cb16", "SELECT user_id, COUNT(*) AS c FROM cb_hits GROUP BY user_id ORDER BY c DESC, user_id LIMIT 10"),
    gd("cb17", "SELECT user_id, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, event_type ORDER BY c DESC, user_id, event_type LIMIT 10"),
    gd("cb18", "SELECT user_id, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, event_type ORDER BY user_id, event_type LIMIT 10"),
    gd("cb19", "SELECT user_id, extract(minute FROM ts) AS m, event_type, COUNT(*) AS c FROM cb_hits GROUP BY user_id, extract(minute FROM ts), event_type ORDER BY c DESC, user_id, m, event_type LIMIT 10"),
    gd("cb20", "SELECT user_id FROM cb_hits WHERE user_id = 42"),
    gd("cb21", "SELECT COUNT(*) AS n FROM documents WHERE text LIKE '%spark%'"),
    gd("cb22", "SELECT lang, MIN(text) AS t, COUNT(*) AS c FROM documents WHERE text LIKE '%spark%' AND lang <> '' GROUP BY lang ORDER BY c DESC, lang LIMIT 10"),
    gd("cb23", "SELECT lang, MIN(text) AS t, MIN(source) AS s, COUNT(*) AS c, COUNT(DISTINCT doc_id) AS d FROM documents WHERE text LIKE '%query%' AND text NOT LIKE '%slow%' AND lang <> '' GROUP BY lang ORDER BY c DESC, lang LIMIT 10"),
    gd("cb24", "SELECT * FROM documents WHERE text LIKE '%spark%' ORDER BY doc_id LIMIT 10"),
    gd("cb25", "SELECT lang FROM documents WHERE lang <> '' ORDER BY doc_id LIMIT 10"),
    gd("cb26", "SELECT lang FROM documents WHERE lang <> '' ORDER BY lang LIMIT 10"),
    gd("cb27", "SELECT lang FROM documents WHERE lang <> '' ORDER BY doc_id, lang LIMIT 10"),
    gd("cb28", "SELECT source, round(AVG(length(text)), 4) AS l, COUNT(*) AS c FROM documents WHERE text <> '' GROUP BY source HAVING COUNT(*) > 10 ORDER BY l DESC, source LIMIT 25"),
    gd("cb29",
      raw"SELECT regexp_replace(text, '^(\\w+)\\s.*$$', '$$1') AS k2, round(AVG(length(text)), 4) AS l, COUNT(*) AS c, MIN(text) AS t FROM documents WHERE text <> '' GROUP BY regexp_replace(text, '^(\\w+)\\s.*$$', '$$1') HAVING COUNT(*) > 10 ORDER BY l DESC, k2 LIMIT 25",
      oracle = raw"SELECT regexp_replace(text, '^(\w+)\s.*$$', '\1') AS k2, round(AVG(length(text)), 4) AS l, COUNT(*) AS c, MIN(text) AS t FROM documents WHERE text <> '' GROUP BY regexp_replace(text, '^(\w+)\s.*$$', '\1') HAVING COUNT(*) > 10 ORDER BY l DESC, k2 LIMIT 25"),
    gd("cb30", wideSums),
    gd("cb31", "SELECT k, user_id % 256 AS ip, COUNT(*) AS c, CAST(SUM(k) AS BIGINT) AS s, round(AVG(value), 4) AS a FROM cb_hits WHERE event_type <> '' GROUP BY k, user_id % 256 ORDER BY c DESC, k, ip LIMIT 10"),
    gd("cb32", "SELECT event_id, user_id, COUNT(*) AS c, CAST(SUM(k) AS BIGINT) AS s, round(AVG(value), 4) AS a FROM cb_hits WHERE event_type <> '' GROUP BY event_id, user_id ORDER BY c DESC, event_id, user_id LIMIT 10"),
    gd("cb33", "SELECT event_id, user_id, COUNT(*) AS c, CAST(SUM(k) AS BIGINT) AS s, round(AVG(value), 4) AS a FROM cb_hits GROUP BY event_id, user_id ORDER BY c DESC, event_id, user_id LIMIT 10"),
    gd("cb34", "SELECT text, COUNT(*) AS c FROM documents GROUP BY text ORDER BY c DESC, text LIMIT 10"),
    gd("cb35", "SELECT 1 AS one, text, COUNT(*) AS c FROM documents GROUP BY 1, text ORDER BY c DESC, text LIMIT 10"),
    gd("cb36", "SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2, user_id - 3 AS u3, COUNT(*) AS c FROM cb_hits GROUP BY user_id, user_id - 1, user_id - 2, user_id - 3 ORDER BY c DESC, user_id LIMIT 10"),
    gd("cb37", "SELECT user_id, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND event_type = 'view' GROUP BY user_id ORDER BY pv DESC, user_id LIMIT 10"),
    gd("cb38", "SELECT event_type, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND value > 0 GROUP BY event_type ORDER BY pv DESC, event_type LIMIT 10"),
    gd("cb39", "SELECT user_id, COUNT(*) AS pv FROM cb_hits WHERE k = 62 AND event_date >= '2024-01-07' AND event_date <= '2024-01-21' AND event_type <> 'error' GROUP BY user_id ORDER BY pv DESC, user_id LIMIT 10 OFFSET 10"),
    gd("cb40", "SELECT k, CASE WHEN k = 0 THEN event_type ELSE '' END AS src, user_id % 50 AS dst, COUNT(*) AS pv FROM cb_hits WHERE event_date >= '2024-01-07' AND event_date <= '2024-01-21' GROUP BY k, CASE WHEN k = 0 THEN event_type ELSE '' END, user_id % 50 ORDER BY pv DESC, k, src, dst LIMIT 10 OFFSET 100"),
    gd("cb41", "SELECT event_id % 1000 AS urlhash, event_date, COUNT(*) AS pv FROM cb_hits WHERE k IN (1, 6) AND user_id % 97 = 13 GROUP BY event_id % 1000, event_date ORDER BY pv DESC, urlhash, event_date LIMIT 10 OFFSET 2"),
    gd("cb42", "SELECT CAST(floor(value * 10) AS INT) % 32 AS w, CAST(floor(value * 10) AS INT) % 24 AS h, COUNT(*) AS pv FROM cb_hits WHERE k = 7 GROUP BY CAST(floor(value * 10) AS INT) % 32, CAST(floor(value * 10) AS INT) % 24 ORDER BY pv DESC, w, h LIMIT 10 OFFSET 10"),
    gd("cb43", "SELECT date_trunc('minute', ts) AS m, COUNT(*) AS pv FROM cb_hits WHERE event_date >= '2024-01-14' AND event_date <= '2024-01-15' AND event_type = 'view' GROUP BY date_trunc('minute', ts) ORDER BY m LIMIT 10 OFFSET 100")
  )
}
