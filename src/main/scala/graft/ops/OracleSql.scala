package graft.ops

/** Shared DuckDB-dialect oracle fragments. Cross-engine determinism
  * hangs on each replay being stated once: a fragment with two users
  * lives once, as a private `lazy val`/`def` of its file when both
  * users share that file, and here when they do not. A twin face
  * whose oracle equals another query's registers the same `val`.
  * `OpsDuplicateRunSpec` fails on any run of 8 or more repeated lines
  * under `graft/ops/`.
  */
object OracleSql {

  /** 16-bit bucket from a precomputed md5 hex column/expression — the
    * DuckDB face of [[graft.llm.Sampling.hashBucket]]'s digit
    * arithmetic over an already-hashed value (composite keys hash once
    * in their own CTE, then feed this).
    */
  def bktFromHex(hex: String): String =
    s"""((strpos('0123456789abcdef', substr($hex, 1, 1)) - 1) * 4096
       | + (strpos('0123456789abcdef', substr($hex, 2, 1)) - 1) * 256
       | + (strpos('0123456789abcdef', substr($hex, 3, 1)) - 1) * 16
       | + (strpos('0123456789abcdef', substr($hex, 4, 1)) - 1))""".stripMargin

  /** Bucket of a raw id expression: md5 applied in place (repeats the
    * hash sub-expression four times — DuckDB CSE collapses it; prefer
    * [[bktFromHex]] with a hashed CTE column when composing keys).
    */
  def duckBucket(idExpr: String): String =
    bktFromHex(s"md5(CAST($idExpr AS VARCHAR))")

  /** Connected components of the `(id1, id2)` pairs in `edges`, under
    * WITH RECURSIVE: symmetric closure, then the min reachable id per
    * node in `comp(id, component)` — the replay of
    * [[graft.llm.DupGraph.dupClusters]]. Singletons are absent; callers
    * left-join and coalesce to the node's own id.
    */
  def ccComponents(edges: String, materialized: Boolean): String =
    s"""nodes AS (SELECT id1 AS id FROM $edges UNION SELECT id2 FROM $edges),
       |sym AS (SELECT id1 AS src, id2 AS dst FROM $edges
       |        UNION ALL SELECT id2, id1 FROM $edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT s.dst AS id, rc.r FROM reach rc JOIN sym s ON s.src = rc.id),
       |comp AS${if (materialized) " MATERIALIZED" else ""} (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** The signup → view → purchase chain over a `rel(user_id, ts,
    * event_type)` CTE: view within 7 days of signup, purchase after the
    * view and within the same 7 days, and `nneg.n` errors between view
    * and purchase — the replay of [[graft.core.Temporal.sequenceMatch]]
    * and its streaming face.
    */
  lazy val seqChainCtes: String =
    """s1 AS (SELECT user_id, min(ts) AS t1 FROM rel
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (SELECT r.user_id, min(r.ts) AS t2
      |       FROM rel r JOIN s1 ON s1.user_id = r.user_id
      |       WHERE r.event_type = 'view'
      |         AND epoch_us(r.ts) > epoch_us(s1.t1)
      |         AND epoch_us(r.ts) <= epoch_us(s1.t1) + 604800000000
      |       GROUP BY r.user_id),
      |s3r AS (SELECT r.user_id, min(r.ts) AS t3
      |        FROM rel r JOIN s2 ON s2.user_id = r.user_id
      |                   JOIN s1 ON s1.user_id = r.user_id
      |        WHERE r.event_type = 'purchase'
      |          AND epoch_us(r.ts) > epoch_us(s2.t2)
      |          AND epoch_us(r.ts) <= epoch_us(s1.t1) + 604800000000
      |        GROUP BY r.user_id),
      |nneg AS (SELECT s2.user_id, count(n.ts) AS n
      |         FROM s2 JOIN s3r ON s3r.user_id = s2.user_id
      |         LEFT JOIN rel n ON n.user_id = s2.user_id
      |              AND n.event_type = 'error'
      |              AND epoch_us(n.ts) > epoch_us(s2.t2)
      |              AND epoch_us(n.ts) < epoch_us(s3r.t3)
      |         GROUP BY s2.user_id)""".stripMargin

  /** The curation quality gate over `documents`, given `win` (English
    * wins the stopword vote), `ta` (token totals) and `sh2` (stopword
    * hits): no token above 20% of the doc, and tokens + 2·stopwords −
    * 3·symbols ≥ 0; doc_id % 41 = 0 plays the benchmark and is held out.
    */
  lazy val curationGate: String =
    """gate AS (SELECT d.doc_id, d.text
      |         FROM documents d
      |         JOIN win ON win.doc_id = d.doc_id
      |         JOIN ta ON ta.doc_id = d.doc_id
      |         LEFT JOIN sh2 ON sh2.doc_id = d.doc_id
      |         WHERE d.doc_id % 41 <> 0
      |           AND NOT (ta.top_token_n * 5 >= ta.n_tokens)
      |           AND ta.n_tokens + 2 * coalesce(sh2.sw_hits, 0)
      |               - 3 * len(regexp_extract_all(lower(d.text), '[^a-z0-9\s]')) >= 0)""".stripMargin
}
