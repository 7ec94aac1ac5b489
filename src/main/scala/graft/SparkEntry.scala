package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * One `queries` entry per implemented operator from SURVEY.md §2 (core
  * ceres surface §2.1–§2.7 + LLM-pipeline extensions §2.9); each has a
  * DuckDB-equivalent `oracleSql` (column names and types matched exactly;
  * every query imposes a total ORDER BY for deterministic comparison).
  * Every query — including the "approximate" LSH/SimHash operators — is
  * oracle-checked: their randomness is a deterministic hash, so the full
  * pipelines are reproduced in SQL (see [[annLshSql]], [[SimhashSql]]) and
  * hash-match exactly.
  */
object SparkEntry {

  /** Shared oracle preamble: the compacted points table (SURVEY §2.6
    * `compact_dedup` semantics) as a DuckDB CTE. Must stay semantically
    * identical to [[graft.core.Catalog.points]]: epoch-second floor from
    * nanosecond timestamps, hour alignment, max-value tie-break on
    * duplicate aligned timestamps (the reference's sorted-tuple dedup —
    * see [[graft.core.Kernel.compact]]). */
  private val PtsCte: String =
    """WITH pts AS (
      |  SELECT metric, ts, max(value) AS value FROM (
      |    SELECT 'events.' || event_type AS metric,
      |           s - (s % 3600) AS ts, value
      |    FROM (SELECT epoch_ns(ts) // 1000000000 AS s, * FROM events)
      |    WHERE value IS NOT NULL
      |  ) GROUP BY metric, ts
      |)""".stripMargin

  /** Binary-weight EWMA oracle: 16 explicit lag taps with power-of-two
    * weights (α = 1/2 truncated), mirroring SeriesOps.seriesEwma tap for
    * tap — numerator and denominator are exact integer sums in both
    * engines. */
  private val EwmaSql: String = {
    def lagK(k: Int) =
      if (k == 0) "vm" else s"lag(vm, $k) OVER (ORDER BY ts)"
    val taps = 16
    val num = (0 until taps)
      .map(k => s"coalesce(${lagK(k)} * ${1L << (taps - 1 - k)}, 0)")
      .mkString(" + ")
    val den = (0 until taps)
      .map(k =>
        s"CASE WHEN ${lagK(k)} IS NOT NULL THEN ${1L << (taps - 1 - k)} ELSE 0 END")
      .mkString(" + ")
    s"""$PtsCte, grid AS (
       |  SELECT g.ts, p.value,
       |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
       |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
       |    USING (ts)),
       |e AS (
       |  SELECT ts, value, $num AS num, $den AS den FROM grid)
       | SELECT ts, value,
       |        CASE WHEN den > 0
       |             THEN floor((num * 1.0 / den / 1e6) * 1e6 + 0.5) / 1e6 END AS ewma
       | FROM e ORDER BY ts""".stripMargin
  }

  /** 32-tap wide EWMA oracle: the [[EwmaSql]] tap scheme at MILLI-unit
    * quantization — vm ≤ raw·10³ keeps the 32-tap numerator
    * (≤ vm·2³²) inside BIGINT in both engines; the closing division
    * converts the same exact integer. */
  private val EwmaWideSql: String = {
    def lagK(k: Int) =
      if (k == 0) "vm" else s"lag(vm, $k) OVER (ORDER BY ts)"
    val taps = 32
    val num = (0 until taps)
      .map(k => s"coalesce(${lagK(k)} * ${1L << (taps - 1 - k)}, 0)")
      .mkString(" + ")
    val den = (0 until taps)
      .map(k =>
        s"CASE WHEN ${lagK(k)} IS NOT NULL THEN ${1L << (taps - 1 - k)} ELSE 0 END")
      .mkString(" + ")
    s"""$PtsCte, grid AS (
       |  SELECT g.ts, p.value,
       |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS vm
       |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
       |    USING (ts)),
       |e AS (
       |  SELECT ts, value, $num AS num, $den AS den FROM grid)
       | SELECT ts, value,
       |        CASE WHEN den > 0
       |             THEN floor((num * 1.0 / den / 1e3) * 1e6 + 0.5) / 1e6 END AS ewma
       | FROM e ORDER BY ts""".stripMargin
  }

  /** [[EwmaSql]] over every cataloged metric: the same 16 power-of-two
    * lag taps with each window PARTITION BY metric. */
  private lazy val EwmaMultiSql: String = {
    def lagK(k: Int) =
      if (k == 0) "vm"
      else s"lag(vm, $k) OVER (PARTITION BY metric ORDER BY ts)"
    val taps = 16
    val num = (0 until taps)
      .map(k => s"coalesce(${lagK(k)} * ${1L << (taps - 1 - k)}, 0)")
      .mkString(" + ")
    val den = (0 until taps)
      .map(k =>
        s"CASE WHEN ${lagK(k)} IS NOT NULL THEN ${1L << (taps - 1 - k)} ELSE 0 END")
      .mkString(" + ")
    s"""$PtsCte, $MetaCte, grid AS (
       |  SELECT m.metric, g.ts, p.value,
       |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
       |  FROM (SELECT metric FROM meta) m
       |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
       |e AS (
       |  SELECT metric, ts, value, $num AS num, $den AS den FROM grid)
       | SELECT metric, ts, value,
       |        CASE WHEN den > 0
       |             THEN floor((num * 1.0 / den / 1e6) * 1e6 + 0.5) / 1e6 END AS ewma
       | FROM e ORDER BY metric, ts""".stripMargin
  }

  /** Integer-PageRank oracle: the transition-edge CTEs (shared semantics
    * with `event_transitions`), then 15 UNROLLED power-iteration CTEs
    * (the EwmaSql precedent — recursive CTEs bar aggregation in the
    * recursive term) mirroring EventOps.eventPagerank's exact longs:
    * p ≤ 1e9 rank units, per-edge `(p·c) // d`, damped
    * `base + (85·Σ) // 100`. */
  private lazy val PagerankSql: String = {
    val iters = 15
    val chain = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT n.node,
         |         (150000000 // nn.nn) + (85 * coalesce(s.m, 0)) // 100 AS p
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.to_type AS node,
         |           CAST(sum((p.p * e.c) // e.d) AS BIGINT) AS m
         |    FROM edges e JOIN p${i - 1} p ON p.node = e.from_type
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id, event_type
       |  FROM events),
       |tr AS (
       |  SELECT event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id)
       |           AS prev_type
       |  FROM seq),
       |edges0 AS (
       |  SELECT prev_type AS from_type, event_type AS to_type,
       |         count(*) AS c
       |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |edges AS (
       |  SELECT from_type, to_type, c,
       |         CAST(sum(c) OVER (PARTITION BY from_type) AS BIGINT) AS d
       |  FROM edges0),
       |nodes AS (SELECT DISTINCT event_type AS node FROM events),
       |nn AS (SELECT count(*) AS nn FROM nodes),
       |p0 AS (SELECT node, 1000000000 // nn.nn AS p FROM nodes CROSS JOIN nn),
       |$chain
       | SELECT node AS event_type, floor((p / 1e9) * 1e6 + 0.5) / 1e6 AS pr
       | FROM p$iters ORDER BY event_type""".stripMargin
  }

  /** Normalized-text expression shared by the text oracles. */
  private val NormSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** BPE first-round merge candidates — shared by the session face and
    * the index-served face (identical definition, one oracle). */
  private lazy val BpeMergeSql: String =
      s"""WITH tk AS (
         |  SELECT unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |wc AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS wcnt FROM tk
         |  GROUP BY tok),
         |pr AS (
         |  SELECT substr(tok, CAST(i AS INTEGER), 1) AS a,
         |         substr(tok, CAST(i AS INTEGER) + 1, 1) AS b, wcnt
         |  FROM (SELECT tok, wcnt, unnest(range(1, length(tok))) AS i
         |        FROM wc WHERE length(tok) >= 2)),
         |agg AS (
         |  SELECT a, b, CAST(sum(wcnt) AS BIGINT) AS pair_count
         |  FROM pr GROUP BY a, b),
         |top AS (
         |  SELECT a, b, pair_count FROM agg
         |  ORDER BY pair_count DESC, a, b LIMIT 20)
         | SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, a, b)
         |          AS BIGINT) AS rnk,
         |        a, b, pair_count
         | FROM top ORDER BY rnk""".stripMargin

  /** One unrolled Sennrich BPE training round as CTEs: pR = adjacent
    * symbol pairs of the spaced vocab, bR = argmax merge (count desc,
    * pair lexicographic), wR = the vocab greedily re-merged (the
    * double-space replace trick — `replace`'s left-to-right
    * non-overlapping scan is BPE's merge order in both engines). */
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (
       |  SELECT s[CAST(i AS INTEGER)] AS a,
       |         s[CAST(i AS INTEGER) + 1] AS b, wcnt
       |  FROM (SELECT s, wcnt, unnest(range(1, len(s))) AS i
       |        FROM (SELECT string_split(trim(repr), ' ') AS s, wcnt
       |              FROM $prev))),
       |b$r AS (
       |  SELECT a, b, CAST(sum(wcnt) AS BIGINT) AS pair_count
       |  FROM p$r GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1),
       |w$r AS (
       |  SELECT CASE WHEN b$r.a IS NOT NULL THEN
       |           replace(replace(replace(repr, ' ', '  '),
       |                   ' ' || b$r.a || '  ' || b$r.b || ' ',
       |                   ' ' || b$r.a || b$r.b || ' '), '  ', ' ')
       |         ELSE repr END AS repr, wcnt
       |  FROM $prev LEFT JOIN b$r ON true)"""
  }

  /** Shared training-chain prefix, parametrized in depth (r16 — the
    * hand-unrolled 3-round chain was the only thing capping the
    * registered training depth; the per-round CTEs were always
    * mechanical p/b/w): char-symbolized vocab w0 plus `rounds` chained
    * merge rounds (p/b/w 1..rounds).
    *
    * NOT stripMargin-ed here: margins are stripped exactly once by the
    * outermost consumer (BpeTrainSql / BpeVocabAfterSql). A second strip
    * would eat one pipe from any continuation line starting with `||`,
    * turning string concat into bitwise OR (the r14 oracle-binder bug). */
  private def bpeTrainChainSql(rounds: Int): String =
    s"""WITH tk AS (
       |  SELECT unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |wc AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS wcnt FROM tk
       |  GROUP BY tok),
       |w0 AS (
       |  SELECT ' ' || trim(regexp_replace(tok, '(.)', '\\1 ', 'g'))
       |           || ' ' AS repr, wcnt
       |  FROM wc),
       |${(1 to rounds).map(bpeRoundCtes).mkString(",\n")}"""


  /** Unigram-LM oracle CTE chain (no WITH keyword — callers prepend
    * `WITH RECURSIVE `): distinct-word counts, the substring seed +
    * quantized add-one micro-nat costs (v0), then `throughRound`
    * Viterbi-EM rounds, each a forward-DP recursive CTE (best/parent
    * lists; cost ties take the smallest predecessor via the descending-
    * piece-length CASE — TextOps.uniSegmented's convention), a
    * parent-walk backtrack, the usage rollup over the frozen seed
    * vocabulary, and the re-quantized costs v$r. */
  private def unigramChainSql(k: Int, throughRound: Int): String = {
    val Big = "1000000000000000"
    def dpRound(r: Int): String = {
      val costs = s"v${r - 1}"
      // candidate cost for a final piece of length kk ending at the new
      // position d.i + 1: predecessor j = d.i + 1 - kk, best[j + 1]
      def cBody(kk: Int): String =
        if (kk == 1) s"(d.best[d.i + 1] + coalesce(a1.nllu, $Big))"
        else s"(CASE WHEN d.i >= ${kk - 1} THEN d.best[d.i + ${2 - kk}]" +
          s" + coalesce(a$kk.nllu, $Big) ELSE $Big END)"
      val cs = (1 to 4).map(cBody)
      val m = s"least(${cs.mkString(", ")})"
      val joins = (1 to 4).map { kk =>
        s"LEFT JOIN $costs a$kk ON d.i >= ${kk - 1}" +
          s" AND a$kk.piece = substr(d.tok, d.i + ${2 - kk}, $kk)"
      }.mkString("\n       |  ")
      s"""dp$r AS (
         |  SELECT tok, c, 0 AS i, [CAST(0 AS BIGINT)] AS best, [-1] AS par
         |  FROM uw
         |  UNION ALL
         |  SELECT d.tok, d.c, d.i + 1,
         |         list_append(d.best, $m),
         |         list_append(d.par,
         |           CASE WHEN ${cs(3)} = $m THEN d.i - 3
         |                WHEN ${cs(2)} = $m THEN d.i - 2
         |                WHEN ${cs(1)} = $m THEN d.i - 1
         |                ELSE d.i END)
         |  FROM dp$r d
         |  $joins
         |  WHERE d.i < length(d.tok)),
         |bt$r AS (
         |  SELECT tok, c, length(tok) AS i, CAST(NULL AS VARCHAR) AS piece,
         |         par
         |  FROM dp$r WHERE i = length(tok)
         |  UNION ALL
         |  SELECT b.tok, b.c, b.par[b.i + 1],
         |         substr(b.tok, b.par[b.i + 1] + 1, b.i - b.par[b.i + 1]),
         |         b.par
         |  FROM bt$r b WHERE b.i > 0),
         |useg$r AS MATERIALIZED (SELECT tok, c, piece FROM bt$r WHERE piece IS NOT NULL),
         |uu$r AS (
         |  SELECT s.piece, CAST(coalesce(sum(g.c), 0) AS BIGINT) AS cnt
         |  FROM useed s LEFT JOIN useg$r g ON g.piece = s.piece
         |  GROUP BY s.piece),
         |v$r AS MATERIALIZED (
         |  SELECT piece, cnt,
         |         CAST(floor(ln((SELECT sum(cnt + 1) FROM uu$r) * 1.0
         |           / (cnt + 1)) * 1e6 + 0.5) AS BIGINT) AS nllu
         |  FROM uu$r)"""
    }
    val base =
      s"""utk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |uwc AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM utk GROUP BY 1, 2),
         |uw AS MATERIALIZED (SELECT tok, CAST(sum(c) AS BIGINT) AS c FROM uwc
         |       GROUP BY tok),
         |ucand AS (
         |  SELECT substr(tok, CAST(p AS INTEGER), CAST(l AS INTEGER))
         |           AS piece,
         |         CAST(sum(c) AS BIGINT) AS cnt
         |  FROM uw,
         |  LATERAL (SELECT unnest(generate_series(1, length(tok))) AS p) pp,
         |  LATERAL (SELECT unnest(generate_series(1,
         |             least(4, length(tok) - p + 1))) AS l) ll
         |  GROUP BY 1),
         |useed AS MATERIALIZED (
         |  SELECT piece, cnt FROM ucand WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM ucand WHERE length(piece) >= 2
         |    ORDER BY cnt DESC, piece LIMIT $k)),
         |v0 AS MATERIALIZED (
         |  SELECT piece, cnt,
         |         CAST(floor(ln((SELECT sum(cnt + 1) FROM useed) * 1.0
         |           / (cnt + 1)) * 1e6 + 0.5) AS BIGINT) AS nllu
         |  FROM useed)"""
    (base +: (1 to throughRound).map(dpRound)).mkString(",\n")
  }

  /** Shared span-excision CTE chain (consumed inside `WITH `): words,
    * 13-gram positions, df >= 2 duplicated starts, covered position
    * union, per-doc removed counts — one duplication definition for the
    * digest face and the per-source mass readout. MATERIALIZED where
    * referenced more than once. */
  private lazy val SpanExciseCtes: String =
    s"""ws AS MATERIALIZED (
       |  SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, i,
       |         array_to_string(list_slice(w, i, i + 12), ' ') AS s
       |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
       |         greatest(len(w) - 12, 0))) AS i) t),
       |dfq AS (
       |  SELECT s FROM (
       |    SELECT s, count(DISTINCT doc_id) AS df FROM g GROUP BY s)
       |  WHERE df >= 2),
       |dup AS MATERIALIZED (SELECT g.doc_id, g.i FROM g JOIN dfq USING (s)),
       |cov AS MATERIALIZED (
       |  SELECT DISTINCT d.doc_id, t.j FROM dup d,
       |  LATERAL (SELECT unnest(generate_series(d.i, d.i + 12)) AS j) t),
       |agg AS (SELECT doc_id, count(*) AS n_removed FROM cov
       |        GROUP BY doc_id)"""

  /** Unigram train-face oracle — shared by the session face and the
    * index-served face (identical definition over the same counts). */
  private lazy val UnigramTrainSql: String = {
    val rows = (0 to 2).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rnd, piece, cnt AS usage, nllu " +
        s"FROM v$r").mkString("\n  |  UNION ALL ")
    s"""WITH RECURSIVE ${unigramChainSql(24, 2)}
       | SELECT rnd, piece, usage, nllu FROM (
       |  $rows)
       | ORDER BY rnd, piece""".stripMargin
  }

  /** Unigram apply-face oracle — shared session/index. */
  private lazy val UnigramApplySql: String =
    s"""WITH RECURSIVE ${unigramChainSql(24, 3)},
       |unp AS (SELECT tok, CAST(count(*) AS BIGINT) AS np
       |        FROM useg3 GROUP BY tok)
       | SELECT w.doc_id, CAST(sum(w.c) AS BIGINT) AS n_words,
       |        CAST(sum(w.c * p.np) AS BIGINT) AS n_pieces
       | FROM uwc w JOIN unp p USING (tok)
       | GROUP BY w.doc_id ORDER BY doc_id""".stripMargin

  /** Unigram LM-score oracle: per-word Viterbi path cost = sum of the
    * chosen pieces' final-round (v2) micro-nat costs over the same
    * useg3 segmentation the apply face reads; doc rollup + BIGINT
    * floor-division mean. */
  private lazy val UnigramScoreSql: String =
    s"""WITH RECURSIVE ${unigramChainSql(24, 3)},
       |unp AS (SELECT tok, CAST(count(*) AS BIGINT) AS np
       |        FROM useg3 GROUP BY tok),
       |wcst AS (SELECT g.tok, CAST(sum(v.nllu) AS BIGINT) AS wcost
       |         FROM useg3 g JOIN v2 v ON v.piece = g.piece
       |         GROUP BY g.tok)
       | SELECT w.doc_id, CAST(sum(w.c * p.np) AS BIGINT) AS n_pieces,
       |        CAST(sum(w.c * s.wcost) AS BIGINT) AS sum_nllu,
       |        CAST(sum(w.c * s.wcost) // sum(w.c * p.np) AS BIGINT)
       |          AS mean_nllu
       | FROM uwc w JOIN unp p USING (tok) JOIN wcst s USING (tok)
       | GROUP BY w.doc_id ORDER BY doc_id""".stripMargin

  /** KLL cascade oracle CTEs (consumed inside a `WITH ` — includes the
    * leading `it`/`c0` tables and ends with `kret` = every retained
    * (level, weight, x, id) row): 12 unrolled window levels, flush
    * groups of 64, even sorted positions promote (ties by doc_id),
    * retained = each level's incomplete group — MATERIALIZED per level
    * (inlining would re-evaluate the whole lower cascade per
    * reference). Shared by the levels face and the quantile audit. */
  private lazy val KllChainSql: String = {
    val cap = 64
    val levels = (0 until 12).map { h =>
      s"""n$h AS MATERIALIZED (
         |  SELECT fl, count(*) AS n FROM c$h GROUP BY fl),
         |r$h AS (
         |  SELECT CAST($h AS BIGINT) AS level,
         |         CAST(${1L << h} AS BIGINT) AS weight, c.x, c.id
         |  FROM c$h c JOIN n$h USING (fl) WHERE n < $cap),
         |c${h + 1} AS MATERIALIZED (
         |  SELECT x, id, fl // 2 AS fl FROM (
         |    SELECT c.x, c.id, c.fl, nn.n,
         |           row_number() OVER (PARTITION BY c.fl
         |                              ORDER BY c.x, c.id) AS rn
         |    FROM c$h c JOIN n$h nn USING (fl))
         |  WHERE n = $cap AND rn % 2 = 0)"""
    }.mkString(",\n")
    val union = (0 until 12).map(h => s"SELECT * FROM r$h")
      .mkString("\n  |  UNION ALL ")
    s"""it AS (
       |  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS x,
       |         row_number() OVER (ORDER BY doc_id) AS i
       |  FROM documents),
       |c0 AS MATERIALIZED (
       |  SELECT x, id, CAST((i - 1) // $cap AS BIGINT) AS fl FROM it),
       |$levels,
       |kret AS (
       |  $union)"""
  }

  /** The `rounds`-deep BPE merge table: one row per learned merge. */
  private def bpeTrainSqlAt(rounds: Int): String =
    s"""${bpeTrainChainSql(rounds)}
       | SELECT rnd, a, b, pair_count FROM (
       |   SELECT CAST(1 AS BIGINT) AS rnd, a, b, pair_count FROM b1
       |   ${(2 to rounds).map(r =>
            s"UNION ALL SELECT CAST($r AS BIGINT), a, b, pair_count FROM b$r")
            .mkString("\n   ")})
       | ORDER BY rnd""".stripMargin

  /** The 3-round BPE merge table — shared session/index. */
  private lazy val BpeTrainSql: String = bpeTrainSqlAt(3)

  /** Subword inventory after the 10 learned merges (the deep codebook):
    * top-20 symbols of the re-merged vocab by weighted occurrences,
    * ties lexicographic. */
  private lazy val BpeVocabAfterSql: String =
    s"""${bpeTrainChainSql(10)},
       |sy AS (
       |  SELECT unnest(string_split(trim(repr), ' ')) AS sym, wcnt
       |  FROM w10),
       |ag AS (
       |  SELECT sym, CAST(sum(wcnt) AS BIGINT) AS cnt FROM sy
       |  WHERE sym <> '' GROUP BY sym),
       |top AS (SELECT sym, cnt FROM ag ORDER BY cnt DESC, sym LIMIT 20)
       | SELECT CAST(row_number() OVER (ORDER BY cnt DESC, sym)
       |          AS BIGINT) AS rnk, sym, cnt
       | FROM top ORDER BY rnk""".stripMargin

  /** The pHash band-candidate + exact-hamming pair CTEs (no WITH
    * keyword — callers prepend `WITH ` or `WITH RECURSIVE `): shared by
    * the near-dup pair face and the r17 cluster/apply closures, so the
    * three oracles cannot band on different hashes. */
  private lazy val PhashPairCtes: String = {
    def block(b: Int) = (0 until 16).map(r =>
      s"(CASE WHEN (n * ${16 * b + r + 1}) % 997 >= 498" +
        s" THEN ${1L << r} ELSE 0 END)").mkString(" + ")
    s"""ph_d AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, ${block(0)} AS b0, ${block(1)} AS b1,
       |         ${block(2)} AS b2, ${block(3)} AS b3
       |  FROM ph_d),
       |bands AS (
       |  SELECT doc_id, 0 AS band, b0 AS v FROM h
       |  UNION ALL SELECT doc_id, 1, b1 FROM h
       |  UNION ALL SELECT doc_id, 2, b2 FROM h
       |  UNION ALL SELECT doc_id, 3, b3 FROM h),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.v = y.v AND x.doc_id < y.doc_id),
       |p AS (
       |  SELECT c.id_a, c.id_b,
       |         bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |         bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |           AS hamming
       |  FROM cand c
       |  JOIN h a ON a.doc_id = c.id_a
       |  JOIN h b ON b.doc_id = c.id_b)"""
  }

  /** pHash near-dup pairs: 4×16-bit band joins (pigeonhole recall for
    * hamming ≤ 3) + exact bit_count verify — mirrors the Spark face's
    * banding exactly. */
  private lazy val PhashNearDupSql: String =
    s"""WITH $PhashPairCtes
       | SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       | FROM p WHERE hamming <= 3 AND hamming > 0
       | ORDER BY id_a, id_b""".stripMargin

  /** Multimodal incremental admission verdicts — shared by the session
    * face and the index-served face (identical definition, one oracle):
    * the exact-hamming candidate stream restricted to pairs with a
    * new-batch member (the `DedupIncrementalSql` relabel — rejected =
    * the new, or larger-id, member), hamming ≤ 3 INCLUDING 0 (exact
    * copies reject at admission), best incumbent per rejected asset. */
  private lazy val PhashIncrementalSql: String =
    s"""WITH $PhashPairCtes,
       |nf AS (SELECT doc_id, (${md5BucketSql(4, 10L)} >= 8) AS is_new
       |       FROM documents),
       |inc AS (
       |  SELECT CASE WHEN fb.is_new THEN p.id_b ELSE p.id_a END AS doc_id,
       |         CASE WHEN fb.is_new THEN p.id_a ELSE p.id_b END AS dup_of,
       |         p.hamming
       |  FROM p
       |  JOIN nf fa ON fa.doc_id = p.id_a
       |  JOIN nf fb ON fb.doc_id = p.id_b
       |  WHERE p.hamming <= 3 AND (fa.is_new OR fb.is_new)),
       |r AS (
       |  SELECT doc_id, dup_of, hamming, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY hamming, dup_of) AS rn
       |  FROM inc)
       | SELECT doc_id, dup_of, CAST(hamming AS BIGINT) AS hamming
       | FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The pHash component closure CTEs on top of [[PhashPairCtes]]:
    * edges include hamming-0 pairs (exact copies must cluster with
    * their near-dups — the Spark side unions the exact-collision star
    * edges in for the same reason), recursive reachability, min-id
    * labels. */
  private lazy val PhashClusterCtes: String =
    s"""$PhashPairCtes,
       |prs AS (SELECT id_a, id_b FROM p WHERE hamming <= 3),
       |edges AS (
       |  SELECT id_a AS s, id_b AS d FROM prs
       |  UNION ALL SELECT id_b, id_a FROM prs),
       |reach AS (
       |  SELECT s AS doc_id, s AS label FROM edges
       |  UNION
       |  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.doc_id),
       |cl AS (SELECT doc_id, min(label) AS cluster_id FROM reach
       |       GROUP BY doc_id)"""

  /** Train → apply: per-doc word and subword counts at the trained
    * merge state — shared session/index (the vocab key is the
    * space-stripped repr; symbolization is a bijection). Parametrized
    * in training depth (r17): the apply family consumes the DEEP
    * 10-merge codebook `bpe_train_deep` trains — one training serving
    * every consumer, at real depth. */
  private def bpeApplySqlAt(rounds: Int): String =
    s"""${bpeTrainChainSql(rounds)},
       |dtk AS (
       |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |dwc AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM dtk GROUP BY doc_id, tok),
       |sub AS (
       |  SELECT replace(repr, ' ', '') AS tok,
       |         CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sub
       |  FROM w$rounds)
       | SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_words,
       |        CAST(sum(d.c * s.n_sub) AS BIGINT) AS n_bpe_tokens
       | FROM dwc d JOIN sub s USING (tok)
       | GROUP BY d.doc_id ORDER BY doc_id""".stripMargin

  private lazy val BpeApplySql: String = bpeApplySqlAt(10)

  /** Embedding-side incremental admission — ONE oracle for the session
    * relabeling face and the index-served batch-restricted join (their
    * candidate sets provably coincide: in-bucket pairs with ≥1 new
    * member): the verified sim stream split by the vec_id md5-bucket
    * batch flag (rejected = the new or larger-id member), best incumbent
    * per rejected vector. */
  private lazy val EmbedDedupIncrementalSql: String =
    lshPairSql(16, 6, 64, tail =
      s""",nf AS (SELECT vec_id, (${md5BucketSql(4, 10L, "vec_id")} >= 8)
         |          AS is_new
         |        FROM embeddings),
         |inc AS (
         |  SELECT CASE WHEN fb.is_new THEN s.vec_b ELSE s.vec_a END AS vec_id,
         |         CASE WHEN fb.is_new THEN s.vec_a ELSE s.vec_b END AS dup_of,
         |         s.sim
         |  FROM sims s
         |  JOIN nf fa ON fa.vec_id = s.vec_a
         |  JOIN nf fb ON fb.vec_id = s.vec_b
         |  WHERE s.sim >= 0.4 AND (fa.is_new OR fb.is_new)),
         |r2 AS (
         |  SELECT vec_id, dup_of, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY floor((sim) * 1e6 + 0.5) / 1e6 DESC, dup_of) AS rn
         |  FROM inc)
         | SELECT vec_id, dup_of, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
         | FROM r2 WHERE rn = 1 ORDER BY vec_id""".stripMargin)

  /** SentencePiece character-coverage table — shared session/index. */
  private lazy val CharCoverageSql: String =
      s"""WITH t AS (SELECT $NormSql AS t FROM documents),
         |ch AS (
         |  SELECT substr(t, CAST(i AS INTEGER), 1) AS ch
         |  FROM (SELECT t, unnest(range(1, length(t) + 1)) AS i
         |        FROM t WHERE length(t) >= 1)),
         |cc AS (
         |  SELECT ch, CAST(count(*) AS BIGINT) AS cnt
         |  FROM ch WHERE ch <> ' ' GROUP BY ch),
         |w AS (
         |  SELECT ch, cnt,
         |         CAST(row_number() OVER (ORDER BY cnt DESC, ch)
         |           AS BIGINT) AS rnk,
         |         sum(cnt) OVER (ORDER BY cnt DESC, ch) AS cum,
         |         sum(cnt) OVER () AS total
         |  FROM cc)
         | SELECT rnk, ch, cnt,
         |        floor((cum * 1.0 / total) * 1e6 + 0.5) / 1e6 AS cum_share
         | FROM w WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** Perplexity keep/drop gate — shared session/index (both faces
    * derive from the ccnetDocScores definition; the index face reads
    * the persisted doc_ccnet table). */
  private lazy val PerplexityFilterSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS w
      |  FROM documents),
      |dw AS (
      |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM toks GROUP BY doc_id, source, w),
      |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf FROM dw GROUP BY w),
      |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM vocab),
      |doc AS (
      |  SELECT doc_id, source,
      |         CAST(floor(sum(c * -ln(cf * 1.0 / n)) / sum(c) * 1000000.0 + 0.5) AS BIGINT) AS nllu
      |  FROM dw JOIN vocab USING (w) CROSS JOIN tot
      |  GROUP BY doc_id, source)
      | SELECT doc_id, source,
      |        floor((nllu / 1000000.0) * 1e6 + 0.5) / 1e6 AS nll,
      |        floor((exp(nllu / 1000000.0)) * 1e6 + 0.5) / 1e6 AS ppl,
      |        nllu <= 3410000 AS keep
      | FROM doc ORDER BY doc_id""".stripMargin

  /** CCNet perplexity terciles — shared session/index. */
  private lazy val CcnetBucketsSql: String =
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest(string_split($NormSql, ' ')) AS w
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS c
         |  FROM toks GROUP BY doc_id, lang, w),
         |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf FROM dw GROUP BY w),
         |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM vocab),
         |doc AS (
         |  SELECT doc_id, lang,
         |         CAST(floor(sum(c * -ln(cf * 1.0 / n)) / sum(c) * 1000000.0 + 0.5) AS BIGINT) AS nllu
         |  FROM dw JOIN vocab USING (w) CROSS JOIN tot
         |  GROUP BY doc_id, lang),
         |ranked AS (
         |  SELECT lang, nllu,
         |         row_number() OVER (PARTITION BY lang ORDER BY nllu) - 1
         |           AS rn,
         |         count(*) OVER (PARTITION BY lang) AS n
         |  FROM doc),
         |targets AS (
         |  SELECT DISTINCT lang, p, p * (n - 1) AS h,
         |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
         |  FROM ranked,
         |       (VALUES (CAST(1.0 / 3 AS DOUBLE)),
         |               (CAST(2.0 / 3 AS DOUBLE))) pv(p)),
         |qs AS (
         |  SELECT t.lang, t.p,
         |         floor((CAST(rl.nllu AS DOUBLE) +
         |               CAST(rh.nllu - rl.nllu AS DOUBLE) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS q
         |  FROM targets t
         |  JOIN ranked rl ON rl.lang = t.lang AND rl.rn = t.lo
         |  JOIN ranked rh ON rh.lang = t.lang AND rh.rn = t.hi),
         |th AS (
         |  SELECT lang,
         |         min(CASE WHEN p < 0.5 THEN q END) AS q33,
         |         min(CASE WHEN p > 0.5 THEN q END) AS q67
         |  FROM qs GROUP BY lang),
         |b AS (
         |  SELECT d.lang, d.nllu,
         |         CASE WHEN d.nllu <= t.q33 THEN 'head'
         |              WHEN d.nllu <= t.q67 THEN 'middle'
         |              ELSE 'tail' END AS bucket
         |  FROM doc d JOIN th t USING (lang))
         | SELECT lang, bucket, count(*) AS n_docs,
         |        floor((CAST(sum(nllu) AS BIGINT)
         |              / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_nll
         | FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin


  /** STL-lite decomposition CTE chain ending in
    * `dec(ts, value, trend, seasonal, residual)` — shared by
    * `series_seasonal_decompose` and `series_anomaly_stl`. Same integer
    * micro-unit discipline as the Spark op: windowed integer trend sum,
    * detrended values re-quantized before the per-slot seasonal mean. */
  private lazy val StlCte: String =
    s"""$PtsCte, grid AS (
       |  SELECT g.ts, p.value,
       |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
       |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
       |    USING (ts)),
       |tr AS (
       |  SELECT ts, value, vm,
       |         CASE WHEN count(vm) OVER w >= 1 THEN
       |           (sum(vm) OVER w) * 1.0 / (count(vm) OVER w) / 1e6
       |         END AS trend,
       |         CAST(((ts - 1704412800) // 3600) % 24 AS BIGINT) AS slot
       |  FROM grid
       |  WINDOW w AS (ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
       |dt AS (
       |  SELECT *, CASE WHEN value IS NOT NULL AND trend IS NOT NULL THEN
       |    CAST(floor((value - trend) * 1e6 + 0.5) AS BIGINT) END AS dm
       |  FROM tr),
       |se AS (
       |  SELECT slot, sum(dm) * 1.0 / count(dm) / 1e6 AS seasonal
       |  FROM dt GROUP BY slot HAVING count(dm) > 0),
       |dec AS (
       |  -- display quantization floor(x*1e6+0.5)/1e6, not round-to-6:
       |  -- round's half-boundary is engine-specific (sf0.001 hits one)
       |  SELECT t.ts, t.value,
       |         floor(t.trend * 1e6 + 0.5) / 1e6 AS trend,
       |         floor(se.seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
       |         floor(CASE WHEN t.value IS NOT NULL AND t.trend IS NOT NULL
       |                     AND se.seasonal IS NOT NULL
       |               THEN t.value - t.trend - se.seasonal END
       |               * 1e6 + 0.5) / 1e6 AS residual
       |  FROM dt t LEFT JOIN se USING (slot))""".stripMargin

  /** [[StlCte]] over every cataloged metric: the trend window
    * partitioned by metric, the seasonal means keyed (metric, slot).
    * Shared by the three `_multi` STL oracles — one decomposition
    * definition, three reads, mirroring the Spark side. */
  private lazy val StlMultiCte: String =
    s"""$PtsCte, $MetaCte, grid AS (
       |  SELECT m.metric, g.ts, p.value,
       |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
       |  FROM (SELECT metric FROM meta) m
       |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
       |tr AS (
       |  SELECT metric, ts, value, vm,
       |         CASE WHEN count(vm) OVER w >= 1 THEN
       |           (sum(vm) OVER w) * 1.0 / (count(vm) OVER w) / 1e6
       |         END AS trend,
       |         CAST(((ts - 1704412800) // 3600) % 24 AS BIGINT) AS slot
       |  FROM grid
       |  WINDOW w AS (PARTITION BY metric ORDER BY ts
       |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
       |dt AS (
       |  SELECT *, CASE WHEN value IS NOT NULL AND trend IS NOT NULL THEN
       |    CAST(floor((value - trend) * 1e6 + 0.5) AS BIGINT) END AS dm
       |  FROM tr),
       |se AS (
       |  SELECT metric, slot, sum(dm) * 1.0 / count(dm) / 1e6 AS seasonal
       |  FROM dt GROUP BY metric, slot HAVING count(dm) > 0),
       |dec AS (
       |  -- display quantization floor(x*1e6+0.5)/1e6, not round-to-6:
       |  -- round's half-boundary is engine-specific (hit at -16.3762135)
       |  SELECT t.metric, t.ts, t.value,
       |         floor(t.trend * 1e6 + 0.5) / 1e6 AS trend,
       |         floor(se.seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
       |         floor(CASE WHEN t.value IS NOT NULL AND t.trend IS NOT NULL
       |                     AND se.seasonal IS NOT NULL
       |               THEN t.value - t.trend - se.seasonal END
       |               * 1e6 + 0.5) / 1e6 AS residual
       |  FROM dt t LEFT JOIN se
       |    ON t.metric = se.metric AND t.slot = se.slot)""".stripMargin

  /** BM25 retrieval oracle — shared by `bm25_search` (session word-count
    * table) and `index_bm25_search` (the ingest-maintained index table):
    * identical output contract. */
  private lazy val Bm25Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |wc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl
       |       FROM wc GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n_docs,
       |                  CAST(sum(dl) AS BIGINT) AS mass FROM dl),
       |dfs AS (SELECT tok, count(*) AS df FROM wc
       |        WHERE tok IN ('spark', 'merge') GROUP BY tok)
       | SELECT doc_id, count(*) AS n_terms,
       |        floor((sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
       |                  (c * 2.2) /
       |                  (c + 1.2 * (0.25 + 0.75 * dl / (mass / n_docs))))) * 1e6 + 0.5) / 1e6 AS score
       | FROM wc JOIN dfs USING (tok) JOIN dl USING (doc_id)
       | CROSS JOIN corpus
       | GROUP BY doc_id
       | ORDER BY score DESC, doc_id LIMIT 15""".stripMargin

  /** TF-IDF cosine pair oracle — shared by `tfidf_pairs` (session
    * word-count table) and `index_tfidf_pairs` (the ingest-maintained
    * index table): micro-unit weights over the df≤64 vocabulary, HUGEINT
    * dot/norm sums, one closing double sequence per pair. */
  private lazy val TfidfPairsSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |wc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM wc),
       |dfs AS (SELECT tok, count(*) AS df FROM wc
       |        GROUP BY tok HAVING count(*) <= 64),
       |w AS (
       |  SELECT doc_id, tok,
       |         CAST(floor(c * ln(n_docs * 1.0 / df) * 1e6 + 0.5)
       |           AS HUGEINT) AS w
       |  FROM wc JOIN dfs USING (tok) CROSS JOIN nd),
       |wp AS (SELECT * FROM w WHERE w > 0),
       |norms AS (SELECT doc_id, sum(w * w) AS nn FROM wp GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
       |  FROM wp a JOIN wp b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT doc_a, doc_b,
       |         CAST(dot AS DOUBLE) /
       |           sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS sim
       |  FROM dots JOIN norms na ON na.doc_id = doc_a
       |             JOIN norms nb ON nb.doc_id = doc_b)
       | SELECT doc_a, doc_b, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
       | FROM sims WHERE sim >= 0.3 ORDER BY doc_a, doc_b""".stripMargin

  /** Per-doc keyphrase oracle — shared by `doc_keyphrases` (session
    * word-count table) and `index_doc_keyphrases` (index table). */
  private lazy val DocKeyphrasesSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |wc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM wc),
       |dfs AS (SELECT tok, count(*) AS df FROM wc GROUP BY tok),
       |w AS (
       |  SELECT doc_id, tok,
       |         CAST(floor(c * ln(n_docs * 1.0 / df) * 1e6 + 0.5)
       |           AS BIGINT) AS wq
       |  FROM wc JOIN dfs USING (tok) CROSS JOIN nd),
       |r AS (
       |  SELECT doc_id, tok, wq,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |           ORDER BY wq DESC, tok) AS BIGINT) AS rank
       |  FROM w)
       | SELECT doc_id, rank, tok, floor((wq / 1e6) * 1e6 + 0.5) / 1e6 AS tfidf
       | FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Every-metric Holt–Winters oracle — shared by
    * `series_holt_winters_multi` and (as a subquery) the
    * `series_forecast_error` QA rollup. */
  private lazy val HwMultiSql: String = {
    val lNew = "(0.5 * (g.value - hw.s[(g.i % 24) + 1]) + 0.5 * (hw.l + hw.b))"
    s"""${PtsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $MetaCte,
       |grid AS (
       |  SELECT m.metric, g.ts, p.value
       |  FROM (SELECT metric FROM meta) m
       |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
       |gi AS (
       |  SELECT metric, ts, value,
       |         CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) - 1
       |           AS BIGINT) AS i
       |  FROM grid),
       |hw AS (
       |  SELECT metric, CAST(-1 AS BIGINT) AS i, 0.0::DOUBLE AS l,
       |         0.0::DOUBLE AS b,
       |         list_transform(range(24), x -> 0.0::DOUBLE) AS s,
       |         FALSE AS ini, NULL::DOUBLE AS f
       |  FROM (SELECT metric FROM meta)
       |  UNION ALL
       |  SELECT g.metric, g.i,
       |         CASE WHEN g.value IS NULL THEN hw.l
       |              WHEN NOT hw.ini THEN g.value
       |              ELSE $lNew END,
       |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.b
       |              ELSE 0.25 * ($lNew - hw.l) + 0.75 * hw.b END,
       |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.s
       |              ELSE list_transform(range(1, 25), j ->
       |                CASE WHEN j = (g.i % 24) + 1
       |                     THEN 0.5 * (g.value - $lNew) + 0.5 * hw.s[j]
       |                     ELSE hw.s[j] END) END,
       |         hw.ini OR g.value IS NOT NULL,
       |         CASE WHEN hw.ini
       |              THEN hw.l + hw.b + hw.s[(g.i % 24) + 1] END
       |  FROM hw, gi g WHERE g.metric = hw.metric AND g.i = hw.i + 1)
       | SELECT g.metric, g.ts, g.value, floor((hw.f) * 1e6 + 0.5) / 1e6 AS forecast
       | FROM hw JOIN gi g USING (metric, i) WHERE i >= 0
       | ORDER BY metric, ts""".stripMargin
  }

  /** Flagship grid-read oracle — shared by `densify_grid` (flat scan)
    * and `densify_grid_store` (`Engine.fetch` off the (pb, pd) store). */
  private lazy val DensifyGridSql: String =
    s"""$PtsCte SELECT g.ts, p.value
       | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
       |   USING (ts)
       | ORDER BY ts""".stripMargin

  /** Pattern-read oracle — shared by `fetch_pattern` (flat scan) and
    * `fetch_pattern_store` (`Engine.fetchPattern` off the (pb, pd)
    * store): identical answers.
    * The match set resolves from the META catalog with the SAME anchored
    * regex the engine compiles from the glob (`events.*` →
    * `^events\.[^.]*$`), then LEFT-joins points — so a metadata match
    * with no points yields an all-null grid exactly like the engine,
    * and the pin survives fixture changes (a points-derived match set
    * would silently drop data-less metrics). */
  private lazy val FetchPatternSql: String =
    s"""$PtsCte, $MetaCte,
       |mets AS (
       |  SELECT metric FROM meta
       |  WHERE regexp_matches(metric, '^events\\.[^.]*$$')),
       |g AS (
       |  SELECT m.metric, t.ts
       |  FROM mets m CROSS JOIN
       |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
       | SELECT g.metric, g.ts, p.value
       | FROM g LEFT JOIN pts p USING (metric, ts)
       | ORDER BY metric, ts""".stripMargin

  /** MMR oracle: pool + pairwise micro-int sims, then the greedy rounds
    * UNROLLED as CTEs (the pca-rounds pattern) — with λ = 1/2 the
    * objective orders by the integer sq − max_sd, ties on vec_id. */
  private def mmrSql(k: Int, pool: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""r$r AS (
         |  SELECT p.vec_id, p.sq, max(s.sd) AS ms
         |  FROM pool p JOIN sym s ON s.va = p.vec_id
         |    AND s.vb IN (SELECT vec_id FROM sel${r - 1})
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  GROUP BY p.vec_id, p.sq),
         |s$r AS (SELECT vec_id, sq, ms FROM r$r
         |        ORDER BY (sq - ms) DESC, vec_id LIMIT 1),
         |sel$r AS (SELECT vec_id, sq, ms FROM sel${r - 1}
         |          UNION ALL SELECT vec_id, sq, ms FROM s$r)""".stripMargin
    }.mkString(",\n")
    val ranked = (1 to k).map(r =>
      s"SELECT $r AS rank, vec_id, sq, ms FROM s$r").mkString(
      "\n UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |prs AS (
       |  SELECT e.vec_id,
       |         unnest(e.embedding)::DOUBLE AS a, unnest(q.qv)::DOUBLE AS b
       |  FROM embeddings e, q WHERE e.vec_id <> 0),
       |sims AS (
       |  SELECT vec_id, CAST(floor(
       |    sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) * 1e6 + 0.5) AS BIGINT)
       |    AS sq
       |  FROM prs GROUP BY vec_id),
       |pool AS (SELECT * FROM sims ORDER BY sq DESC, vec_id LIMIT $pool),
       |pp AS (
       |  SELECT x.vec_id AS va, y.vec_id AS vb,
       |         unnest(x.embedding)::DOUBLE AS a,
       |         unnest(y.embedding)::DOUBLE AS b
       |  FROM embeddings x, embeddings y
       |  WHERE x.vec_id < y.vec_id
       |    AND x.vec_id IN (SELECT vec_id FROM pool)
       |    AND y.vec_id IN (SELECT vec_id FROM pool)),
       |pd AS (
       |  SELECT va, vb, CAST(floor(
       |    sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) * 1e6 + 0.5) AS BIGINT)
       |    AS sd
       |  FROM pp GROUP BY va, vb),
       |sym AS (SELECT va, vb, sd FROM pd
       |        UNION ALL SELECT vb, va, sd FROM pd),
       |s1 AS (SELECT vec_id, sq, CAST(0 AS BIGINT) AS ms FROM pool
       |       ORDER BY sq DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id, sq, ms FROM s1),
       |$rounds
       | SELECT CAST(rank AS BIGINT) AS rank, vec_id,
       |        floor((sq / 1e6) * 1e6 + 0.5) / 1e6 AS sim, floor((ms / 1e6) * 1e6 + 0.5) / 1e6 AS max_sel_sim
       | FROM ($ranked)
       | ORDER BY rank""".stripMargin
  }

  /** Seed-codebook PQ ANN top-k oracle (`ann_pq_topk_seed` — the
    * deterministic lowest-id 8×16 face kept registered alongside the
    * trained serving face). */
  private lazy val PqTopkSql: String =
    """WITH cells AS (
        |  SELECT vec_id,
        |         unnest(range(len(embedding))) AS dim,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
        |           AS mv
        |  FROM embeddings),
        |pc AS (
        |  SELECT vec_id, CAST(dim // 8 AS INTEGER) AS sub,
        |         dim % 8 AS d, mv
        |  FROM cells),
        |cb AS (
        |  SELECT sub, d, CAST(vec_id AS INTEGER) AS cid, mv AS cm
        |  FROM pc WHERE vec_id < 16),
        |dist AS (
        |  SELECT p.vec_id, p.sub, c.cid,
        |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS dist2
        |  FROM pc p JOIN cb c ON c.sub = p.sub AND c.d = p.d
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid,
        |           row_number() OVER (PARTITION BY vec_id, sub
        |             ORDER BY dist2, cid) AS rk
        |    FROM dist) WHERE rk = 1),
        |adc AS (
        |  SELECT p.sub, c.cid,
        |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS adist2
        |  FROM pc p JOIN cb c ON c.sub = p.sub AND c.d = p.d
        |  WHERE p.vec_id = 0
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
        |  FROM codes co JOIN adc a ON a.sub = co.sub AND a.cid = co.cid
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id)
        | SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
        | FROM sc ORDER BY approx_dist, vec_id LIMIT 10""".stripMargin

  /** Word 3-gram shingle base CTEs over documents (DISTINCT per doc),
    * mirroring TextOps.shingles: `sh(doc_id, s)` + per-doc `sizes`. */
  private val ShinglesBaseCte: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |  FROM ws, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS i) t),
       |sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id)""".stripMargin

  /** CCNet paragraph-segment base CTE mirroring TextOps.paraSegs:
    * `segs(doc_id, seg, repr)` — the normalized word array chopped into
    * non-overlapping 10-word windows (tail kept; an empty text yields
    * one empty segment in both engines, since split('') = ['']). */
  private val ParaSegsCte: String =
    s"""WITH ws AS (
       |  SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
       |segs AS (
       |  SELECT doc_id, t.s AS seg,
       |         array_to_string(list_slice(w, t.s * 10 + 1, t.s * 10 + 10),
       |                         ' ') AS repr
       |  FROM ws, LATERAL (SELECT unnest(generate_series(0,
       |         CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS s) t)""".stripMargin

  /** Batch-vs-index vocabulary drift — shared session/index. */
  private lazy val BatchVocabDriftSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, (${md5BucketSql(4, 10L)} >= 8) AS is_new,
       |         unnest(string_split($NormSql, ' ')) AS tok
       |  FROM documents),
       |iv AS (SELECT DISTINCT tok FROM tk WHERE NOT is_new),
       |nt AS (
       |  SELECT t.source, t.tok, count(*) AS c,
       |         (iv.tok IS NULL) AS oov
       |  FROM tk t LEFT JOIN iv ON iv.tok = t.tok
       |  WHERE t.is_new GROUP BY t.source, t.tok, iv.tok)
       | SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |        count(DISTINCT tok) AS n_distinct,
       |        CAST(sum(CASE WHEN oov THEN c ELSE 0 END) AS BIGINT)
       |          AS oov_tokens,
       |        count(DISTINCT CASE WHEN oov THEN tok END) AS oov_distinct,
       |        floor((sum(CASE WHEN oov THEN c ELSE 0 END) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6
       |          AS oov_ratio
       | FROM nt GROUP BY source ORDER BY source""".stripMargin

  /** Duplicated-paragraph mass per source — shared by the session face
    * and the index-served face (identical definition, one oracle). */
  private val ParaDupStatsSql: String =
    s"""$ParaSegsCte,
       |dfq AS (SELECT repr, count(*) AS df FROM segs GROUP BY repr),
       |per AS (
       |  SELECT g.doc_id, count(*) AS total,
       |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup
       |  FROM segs g JOIN dfq d USING (repr) GROUP BY g.doc_id),
       |bysrc AS (
       |  SELECT doc.source, CAST(sum(p.total) AS BIGINT) AS total_paras,
       |         CAST(sum(p.dup) AS BIGINT) AS dup_paras
       |  FROM per p JOIN documents doc USING (doc_id)
       |  GROUP BY doc.source)
       | SELECT source, total_paras, dup_paras,
       |        floor((dup_paras * 1.0 / total_paras) * 1e6 + 0.5) / 1e6 AS dup_ratio
       | FROM bysrc ORDER BY source""".stripMargin

  /** Paragraph-unit decontamination — shared session/index. */
  private lazy val ContaminationParaSql: String =
    s"""$ParaSegsCte,
       |s2 AS (
       |  SELECT DISTINCT s.doc_id, d.source, s.repr
       |  FROM segs s JOIN documents d USING (doc_id)),
       |bh AS (SELECT DISTINCT repr FROM s2
       |       WHERE source IN ('src12', 'src18'))
       | SELECT t.doc_id, t.source, CAST(count(*) AS BIGINT) AS n_shared
       | FROM s2 t JOIN bh USING (repr)
       | WHERE t.source NOT IN ('src12', 'src18')
       | GROUP BY t.doc_id, t.source
       | ORDER BY t.doc_id""".stripMargin

  /** Vocabulary top-k by occurrences with doc frequency — shared by
    * `top_terms` (session word-count table) and `index_top_terms` (the
    * ingest-maintained index table): identical output contract. */
  private val TopTermsSql: String =
    s"""SELECT tok, count(*) AS occurrences,
       |        count(DISTINCT doc_id) AS doc_freq
       | FROM (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |       FROM documents)
       | GROUP BY tok ORDER BY occurrences DESC, tok LIMIT 20""".stripMargin

  /** [[ShinglesBaseCte]] + the exhaustive all-pairs jaccard (`jac`). */
  private val ShinglesCte: String =
    s"""$ShinglesBaseCte,
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT doc_a, doc_b, inter * 1.0 / (sa.ns + sb.ns - inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)""".stripMargin

  /** The per-doc 64-minhash signature CTEs (`sv` → `mh(doc_id, m0..m63)`):
    * one md5 per shingle (first 15 hex digits = 60 bits, mod 2^31−1), 64
    * affine minhashes with the SAME LCG-derived (a, b) literals the
    * engine inlines — the SQL mirror of TextOps.minhashSignaturesOf,
    * shared by the star candidate chain and the estimate-fidelity
    * oracle. */
  private def minhashSigCtes: String = {
    val M = TextOps.MinhashMod
    val decode = (1 to 15).map { k =>
      val p = (0 until (15 - k)).foldLeft(1L)((a, _) => a * 16)
      val d = s"(strpos('0123456789abcdef', substr(md5(s), $k, 1)) - 1)"
      if (p == 1L) d else s"$d * $p"
    }.mkString("(", " +\n         ", s") % $M")
    val mins = TextOps.minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      s"min((v * $a + $b) % $M) AS m$i"
    }.mkString(",\n    ")
    s"""sv AS (
       |  SELECT doc_id,
       |        $decode AS v
       |  FROM sh),
       |mh AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sv GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB rendition of the STAR candidate pipeline feeding the text
    * cluster/apply chain (TextOps.minhashBucketsOf → starEdges →
    * exact-jaccard verify): [[minhashSigCtes]] signatures, 16 band sigs
    * (each quadruple folded into ONE BIGINT via the `TextOps.sigMuls`
    * affine-mod chain — plain integer arithmetic both engines compute
    * exactly), two-hub star edges (bucket min AND second-min —
    * TextOps.starEdges' shadow bound), exact jaccard >= `threshold` on
    * those edges only. Appends CTEs ending in `prs(doc_a, doc_b)` — the
    * verified star edge set — to [[ShinglesBaseCte]]. */
  private def minhashStarCtes(threshold: Double): String = {
    val M = TextOps.MinhashMod
    val sigs = (0 until 16).map { bnd =>
      val ms = (0 until 4).map(r => s"m${bnd * 4 + r}")
      ms.tail.zip(TextOps.sigMuls).foldLeft(ms.head) {
        case (acc, (m, a)) => s"(($acc * $a + $m) % $M)"
      }
    }.mkString(",\n           ")
    s"""$minhashSigCtes,
       |bb AS (
       |  SELECT doc_id, unnest([${(0 until 16).mkString(", ")}]) AS band,
       |         unnest([$sigs]) AS sig
       |  FROM mh),
       |bmin AS (SELECT band, sig, min(doc_id) AS mn FROM bb GROUP BY band, sig),
       |bmin2 AS (
       |  SELECT b.band, b.sig, min(b.doc_id) AS mn2
       |  FROM bb b JOIN bmin m USING (band, sig) WHERE b.doc_id <> m.mn
       |  GROUP BY b.band, b.sig),
       |scand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT m.mn AS doc_a, x.doc_id AS doc_b
       |    FROM bb x JOIN bmin m USING (band, sig) WHERE x.doc_id <> m.mn
       |    UNION ALL
       |    SELECT m2.mn2 AS doc_a, x.doc_id AS doc_b
       |    FROM bb x JOIN bmin2 m2 USING (band, sig) WHERE x.doc_id > m2.mn2)),
       |vint AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM scand c
       |  JOIN sh xa ON xa.doc_id = c.doc_a
       |  JOIN sh xb ON xb.doc_id = c.doc_b AND xb.s = xa.s
       |  GROUP BY c.doc_a, c.doc_b),
       |prs AS (
       |  SELECT v.doc_a, v.doc_b FROM vint v
       |  JOIN sizes za ON za.doc_id = v.doc_a
       |  JOIN sizes zb ON zb.doc_id = v.doc_b
       |  WHERE v.inter * 1.0 / (za.ns + zb.ns - v.inter) >= $threshold)""".stripMargin
  }

  /** Incremental admission verdicts — shared by the session face and
    * the index-served face (identical definition, one oracle). */
  private lazy val DedupIncrementalSql: String =
    s"""$ShinglesCte,
       |nf AS (SELECT doc_id, (${md5BucketSql(4, 10L)} >= 8) AS is_new
       |       FROM documents),
       |cand AS (
       |  SELECT CASE WHEN fb.is_new THEN j.doc_b ELSE j.doc_a END AS doc_id,
       |         CASE WHEN fb.is_new THEN j.doc_a ELSE j.doc_b END AS dup_of,
       |         j.jaccard
       |  FROM jac j
       |  JOIN nf fa ON fa.doc_id = j.doc_a
       |  JOIN nf fb ON fb.doc_id = j.doc_b
       |  WHERE j.jaccard >= 0.9 AND (fa.is_new OR fb.is_new)),
       |r AS (
       |  SELECT doc_id, dup_of, jaccard, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY floor((jaccard) * 1e6 + 0.5) / 1e6 DESC, dup_of) AS rn
       |  FROM cand)
       | SELECT doc_id, dup_of, floor((jaccard) * 1e6 + 0.5) / 1e6 AS jaccard
       | FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private val JaccardSql: String =
    s"""$ShinglesCte
       | SELECT doc_a, doc_b, floor((jaccard) * 1e6 + 0.5) / 1e6 AS jaccard
       | FROM jac WHERE jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin

  /** Per-vector cosine similarity vs the query vector (vec_id 0), computed
    * in double precision exactly as VectorOps does. */
  private def simsCte(k: Int): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |prs AS (
       |  SELECT e.vec_id, e.label,
       |         unnest(e.embedding)::DOUBLE AS a, unnest(q.qv)::DOUBLE AS b
       |  FROM embeddings e, q WHERE e.vec_id <> 0),
       |sims AS (
       |  SELECT vec_id, any_value(label) AS label,
       |         sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS sim
       |  FROM prs GROUP BY vec_id),
       |topk AS (SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT $k)""".stripMargin

  /** DuckDB rendition of [[TextOps.docFingerprint]]'s Rabin–Karp min-hash:
    * for texts of >= window length, the 5-term polynomial per window
    * position; shorter texts hash their full contents with width=len
    * powers — exactly [[org.apache.spark.sql.graft.RollingHash.compute]]'s
    * contract, so the oracle stays residue-identical for ANY fixture. */
  /** Per-position width-5 rolling-hash SQL (the [[RollingHash]] polynomial
    * at 1-based position `i`, whole-string hash for shorter-than-width
    * docs, 0 for empty) — shared by `doc_fingerprint` (global min) and
    * `winnow_fingerprint` (framed window minima). */
  private val PositionHashSql: String = {
    val B = graft.functions.GraftFunctions.HashBase
    val M = graft.functions.GraftFunctions.HashMod
    def pow(k: Int): Long = (0 until k).foldLeft(1L)((p, _) => p * B % M)
    def poly(w: Int, pos: Int => String): String =
      (0 until w).map { j =>
        val p = pow(w - 1 - j)
        val c = s"ascii(substr(text, ${pos(j)}, 1))::BIGINT"
        if (p == 1L) c else s"$c * $p"
      }.mkString("(", " + ", s") % $M")
    val win5 = poly(5, j => if (j == 0) "i" else s"i+$j")
    val shorts = (1 to 4).map(w =>
      s"WHEN length(text) = $w THEN ${poly(w, j => (j + 1).toString)}")
      .mkString("\n        ")
    s"""CASE WHEN length(text) >= 5 THEN $win5
       |        $shorts
       |        ELSE 0 END""".stripMargin
  }

  /** Shared oracle for both as-of forms: DuckDB's native ASOF LEFT JOIN
    * of each event (at its epoch second) against its own metric's hourly
    * rollup — latest quote ts ≤ event s, inclusive at equality. */
  private val AsofOracleSql: String =
    s"""$PtsCte, ev AS (
       |  SELECT event_id, event_type,
       |         epoch_ns(ts) // 1000000000 AS s,
       |         'events.' || event_type AS metric
       |  FROM events)
       | SELECT e.event_id, e.event_type, e.s AS ts,
       |        p.ts AS asof_ts, p.value AS asof_value
       | FROM ev e ASOF LEFT JOIN pts p
       |   ON e.metric = p.metric AND e.s >= p.ts
       | ORDER BY e.event_id""".stripMargin

  private val DocFingerprintSql: String =
    s"""WITH fp AS (
       |  SELECT doc_id, min($PositionHashSql) AS fingerprint
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-4, 1))) AS i) t
       |  GROUP BY doc_id)
       | SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc
       | FROM fp GROUP BY fingerprint ORDER BY fingerprint""".stripMargin

  /** Winnowing (window 4 over the width-5 position hashes): full windows
    * j..j+3 only — `i <= greatest(np-3, 1)` keeps the end-truncated frames
    * out while the single clamped window of a shorter-than-window doc
    * stays (matching RollingWinnow's degenerate contract). */
  /** Shared per-doc winnow fingerprint-set CTE (`fps`: DISTINCT (doc_id,
    * fp)) — the window-4 minima over the width-5 position hashes, full
    * windows only — consumed by `winnow_fingerprint` and `winnow_pairs`. */
  private val WinnowFpsCte: String =
    s"""WITH ph AS (
       |  SELECT doc_id, i, greatest(length(text) - 4, 1) AS np,
       |         $PositionHashSql AS h
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(1, greatest(length(text)-4, 1))) AS i) t),
       |wm AS (
       |  SELECT doc_id, i, np,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM ph),
       |fps AS (
       |  SELECT DISTINCT doc_id, fp FROM wm WHERE i <= greatest(np - 3, 1))""".stripMargin

  private val WinnowFingerprintSql: String =
    s"""$WinnowFpsCte
       | SELECT fp AS fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc
       | FROM fps GROUP BY fp HAVING count(*) >= 2 ORDER BY fingerprint""".stripMargin

  /** DuckDB rendition of the FULL SimHash pipeline ([[TextOps.dedupSimhash]]):
    * per-token bit source is the md5 hex digest (digit j/4, bit j%4), so both
    * engines compute identical per-bit signed sums, fingerprints, 16-bit
    * block keys, and hamming distances — exact hash-match on an operator
    * that is "approximate" only in the LSH-blocking sense. */
  private val SimhashSql: String = {
    def hd(i: Int) = s"(strpos('0123456789abcdef', substr(m, ${i + 1}, 1)) - 1)"
    val bitSums = (0 until 64).map { j =>
      s"sum(CASE WHEN (${hd(j / 4)} >> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n    ")
    def block(b: Int) = (0 until 16).map { r =>
      val j = b * 16 + r
      s"(CASE WHEN s$j > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, md5(tok) AS m FROM (
       |    SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
       |    FROM documents)),
       |sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM toks GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |    CAST(${block(0)} AS BIGINT) AS b0,
       |    CAST(${block(1)} AS BIGINT) AS b1,
       |    CAST(${block(2)} AS BIGINT) AS b2,
       |    CAST(${block(3)} AS BIGINT) AS b3
       |  FROM sums),
       |blocks AS (
       |  SELECT doc_id, unnest([0, 1, 2, 3]) AS blk,
       |         unnest([b0, b1, b2, b3]) AS key, b0, b1, b2, b3
       |  FROM fp),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1)) +
       |         bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming
       |  FROM blocks x JOIN blocks y
       |    ON x.blk = y.blk AND x.key = y.key AND x.doc_id < y.doc_id)
       | SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
       | FROM pairs WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB rendition of the FULL ANN-LSH pipeline ([[VectorOps.annLshTopk]]):
    * the deterministic hyperplane sign matrix is inlined as list literals
    * (generated from the same [[VectorOps.hyperplane]] the Spark side uses),
    * projections/buckets/candidates/exact-cosine-top-k are recomputed in SQL.
    * Every arithmetic step is a sequential double fold in both engines, so
    * the result hash-matches — the "approximate" operator is still exactly
    * reproducible because its randomness is a deterministic hash. */
  private def lshBucketCtes(tables: Int, bits: Int, dim: Int): String = {
    val signRows = (for { t <- 0 until tables; j <- 0 until bits } yield {
      val sv = VectorOps.hyperplane(t, j, dim)
        .map(s => if (s > 0) "1" else "-1").mkString(",")
      s"($t, $j, [$sv]::DOUBLE[])"
    }).mkString(",\n")
    s"""signs(tbl, bit, sv) AS (VALUES
       |$signRows),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |proj AS (
       |  SELECT e.vec_id, s.tbl, s.bit,
       |         list_sum(list_transform(range(1, ${dim + 1}),
       |                                 i -> e.v[i] * s.sv[i])) AS p
       |  FROM emb e CROSS JOIN signs s),
       |bkt AS (
       |  SELECT vec_id, tbl,
       |         CAST(sum(CASE WHEN p > 0 THEN 1 << bit ELSE 0 END) AS BIGINT)
       |           AS bucket
       |  FROM proj GROUP BY vec_id, tbl)""".stripMargin
  }

  private def annLshSql(k: Int, tables: Int, bits: Int, dim: Int): String =
    s"""WITH ${lshBucketCtes(tables, bits, dim)},
       |qb AS (SELECT tbl, bucket FROM bkt WHERE vec_id = 0),
       |cand AS (
       |  SELECT DISTINCT b.vec_id FROM bkt b JOIN qb USING (tbl, bucket)
       |  WHERE b.vec_id <> 0),
       |${annTailSql(k)}""".stripMargin

  /** DuckDB rendition of the LSH PAIR pipeline ([[VectorOps.embedNearDupLsh]]
    * / [[VectorOps.embedTopkPairsLsh]]): same deterministic bucket CTEs,
    * candidate pairs = bucket self-join, exact cosine verify — candidates
    * and verification both reproduced, so the scale-safe near-dup plan is
    * hash-matched exactly like ann_lsh_topk. `tail` is the final
    * thresholded/top-k select over `sims(vec_a, vec_b, sim)`.
    *
    * With `star = true` the candidate CTE is the per-bucket two-hub STAR
    * (bucket min/second-min → member, ~2c per bucket —
    * VectorOps.starEdgesOf), the connectivity-scale stream the
    * cluster/apply oracles consume. */
  private def lshPairSql(tables: Int, bits: Int, dim: Int,
                         tail: String, recursive: Boolean = false,
                         star: Boolean = false): String = {
    val candCte =
      if (star)
        """bmin AS (SELECT tbl, bucket, min(vec_id) AS mn FROM bkt
          |         GROUP BY tbl, bucket),
          |bmin2 AS (
          |  SELECT b.tbl, b.bucket, min(b.vec_id) AS mn2
          |  FROM bkt b JOIN bmin m USING (tbl, bucket) WHERE b.vec_id <> m.mn
          |  GROUP BY b.tbl, b.bucket),
          |cand AS (
          |  SELECT DISTINCT vec_a, vec_b FROM (
          |    SELECT m.mn AS vec_a, b.vec_id AS vec_b
          |    FROM bkt b JOIN bmin m USING (tbl, bucket)
          |    WHERE b.vec_id <> m.mn
          |    UNION ALL
          |    SELECT m2.mn2 AS vec_a, b.vec_id AS vec_b
          |    FROM bkt b JOIN bmin2 m2 USING (tbl, bucket)
          |    WHERE b.vec_id > m2.mn2))""".stripMargin
      else
        """cand AS (
          |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          |  FROM bkt x JOIN bkt y
          |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin
    s"""WITH ${if (recursive) "RECURSIVE " else ""}${lshBucketCtes(tables, bits, dim)},
       |$candCte,
       |prs AS (
       |  SELECT c.vec_a, c.vec_b,
       |         unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_a
       |  JOIN embeddings b ON b.vec_id = c.vec_b),
       |sims AS (
       |  SELECT vec_a, vec_b, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
       |  FROM prs GROUP BY vec_a, vec_b)
       |$tail""".stripMargin
  }

  /** Shared ANN-oracle tail: exact cosine vs the query vector over a
    * `cand(vec_id)` CTE, TakeOrdered top-k — mirrors
    * VectorOps.exactTopkOnCandidates; the two ANN oracles differ only in
    * candidate generation. */
  /** Multiprobe LSH oracle: the single-probe bucket CTEs plus the full
    * Hamming-1 probe ring (xor each bit of the query's per-table
    * signature) — same candidate/exact-cosine tail. */
  private def annLshMultiprobeSql(k: Int, tables: Int, bits: Int,
                                  dim: Int): String =
    s"""WITH ${lshBucketCtes(tables, bits, dim)},
       |qb0 AS (SELECT tbl, bucket FROM bkt WHERE vec_id = 0),
       |qb AS (
       |  SELECT tbl, bucket FROM qb0
       |  UNION
       |  SELECT tbl, CAST(xor(bucket, 1 << b.bit) AS BIGINT) AS bucket
       |  FROM qb0,
       |       (SELECT unnest(generate_series(0, ${bits - 1})) AS bit) b),
       |cand AS (
       |  SELECT DISTINCT b.vec_id FROM bkt b JOIN qb USING (tbl, bucket)
       |  WHERE b.vec_id <> 0),
       |${annTailSql(k)}""".stripMargin

  private def annTailSql(k: Int): String =
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |prs AS (
       |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
       |         unnest(q.qv)::DOUBLE AS b
       |  FROM embeddings e JOIN cand USING (vec_id), q),
       |sims AS (
       |  SELECT vec_id, sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS sim
       |  FROM prs GROUP BY vec_id),
       |topk AS (SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT $k)
       | SELECT vec_id, floor((sim) * 1e6 + 0.5) / 1e6 AS sim FROM topk ORDER BY vec_id""".stripMargin

  /** DuckDB rendition of the IVF ANN pipeline ([[VectorOps.annIvfTopk]]):
    * deterministic coarse quantizer (centroids = lowest vec_ids), argmax
    * assignment with min-cid tie-break, nprobe nearest cells for the query,
    * exact cosine top-k over the probed cells only. */
  /** The deterministic-quantizer assignment CTE chain (`cents` → `csims`
    * → `assigned`), shared by the IVF top-k oracles and `ivf_cell_stats`. */
  private def ivfAssignCtes(nCentroids: Int): String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |  WHERE vec_id < $nCentroids),
       |pc AS (
       |  SELECT e.vec_id, c.cid, unnest(e.embedding)::DOUBLE AS x,
       |         unnest(c.cv)::DOUBLE AS y
       |  FROM embeddings e CROSS JOIN cents c),
       |csims AS (
       |  SELECT vec_id, cid, sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS csim
       |  FROM pc GROUP BY vec_id, cid),
       |amax AS (SELECT vec_id, max(csim) AS mx FROM csims GROUP BY vec_id),
       |assigned AS (
       |  SELECT s.vec_id, min(s.cid) AS cid FROM csims s
       |  JOIN amax m ON s.vec_id = m.vec_id AND s.csim = m.mx
       |  GROUP BY s.vec_id)""".stripMargin

  private def annIvfSql(k: Int, nCentroids: Int, nprobe: Int): String =
    s"""${ivfAssignCtes(nCentroids)},
       |probe AS (
       |  SELECT cid FROM csims WHERE vec_id = 0
       |  ORDER BY csim DESC, cid LIMIT $nprobe),
       |cand AS (
       |  SELECT vec_id FROM assigned JOIN probe USING (cid)
       |  WHERE vec_id <> 0),
       |${annTailSql(k)}""".stripMargin

  /** DuckDB rendition of the k-means-refined IVF pipeline
    * ([[VectorOps.annIvfTopkKmeans]]) — the `embed_pca_project` unroll
    * discipline applied to Lloyd: the `iters` training rounds are
    * chained CTEs over the MILLI-QUANTIZED id-stride sample (exact
    * integer dot products — order-independent — so every round's
    * cosine-argmax and floor-requantized mean update is bit-identical
    * to the engine's), then the full-corpus assignment/probe/top-k
    * chain replays `annIvfSql`'s shape against the trained centroids. */
  private def annIvfKmeansSql(k: Int, nCentroids: Int, nprobe: Int,
                              iters: Int, sampleMod: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"kc${r - 1}"
      s"""kts$r AS (
         |  SELECT s.vec_id, c.cid,
         |         sum(s.mv * c.cm) /
         |           (sqrt(sum(s.mv * s.mv)) * sqrt(sum(c.cm * c.cm))) AS csim
         |  FROM ksmp s JOIN $prev c ON c.pos = s.pos
         |  GROUP BY s.vec_id, c.cid),
         |ktm$r AS (SELECT vec_id, max(csim) AS mx FROM kts$r GROUP BY vec_id),
         |kta$r AS (
         |  SELECT s.vec_id, min(s.cid) AS cid FROM kts$r s
         |  JOIN ktm$r m ON s.vec_id = m.vec_id AND s.csim = m.mx
         |  GROUP BY s.vec_id),
         |kmn$r AS (
         |  SELECT a.cid, s.pos,
         |         CAST(floor(sum(s.mv)::DOUBLE / count(*) + 0.5) AS BIGINT)
         |           AS nm
         |  FROM kta$r a JOIN ksmp s ON s.vec_id = a.vec_id
         |  GROUP BY a.cid, s.pos),
         |kc$r AS (
         |  SELECT c.cid, c.pos, coalesce(m.nm, c.cm) AS cm
         |  FROM kc${r - 1} c
         |  LEFT JOIN kmn$r m ON m.cid = c.cid AND m.pos = c.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH kcells AS (
       |  SELECT vec_id, unnest(range(len(embedding))) AS pos,
       |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
       |           AS mv
       |  FROM embeddings),
       |ksmp AS (SELECT * FROM kcells WHERE vec_id % $sampleMod = 0),
       |ksid AS (
       |  SELECT DISTINCT vec_id FROM ksmp ORDER BY vec_id LIMIT $nCentroids),
       |kc0 AS (
       |  SELECT s.vec_id AS cid, s.pos, s.mv AS cm
       |  FROM ksmp s JOIN ksid USING (vec_id)),
       |$rounds,
       |fcells AS (
       |  SELECT vec_id, unnest(range(len(embedding))) AS pos,
       |         unnest(embedding)::DOUBLE AS x
       |  FROM embeddings),
       |csims AS (
       |  SELECT f.vec_id, c.cid,
       |         sum(f.x * c.cm) /
       |           (sqrt(sum(f.x * f.x)) * sqrt(sum(c.cm * c.cm))) AS csim
       |  FROM fcells f JOIN kc$iters c ON c.pos = f.pos
       |  GROUP BY f.vec_id, c.cid),
       |amax AS (SELECT vec_id, max(csim) AS mx FROM csims GROUP BY vec_id),
       |assigned AS (
       |  SELECT s.vec_id, min(s.cid) AS cid FROM csims s
       |  JOIN amax m ON s.vec_id = m.vec_id AND s.csim = m.mx
       |  GROUP BY s.vec_id),
       |probe AS (
       |  SELECT cid FROM csims WHERE vec_id = 0
       |  ORDER BY csim DESC, cid LIMIT $nprobe),
       |cand AS (
       |  SELECT vec_id FROM assigned JOIN probe USING (cid)
       |  WHERE vec_id <> 0),
       |${annTailSql(k)}""".stripMargin
  }

  /** The Lloyd-TRAINED PQ CTE chain (shared by the `ann_pq_topk` /
    * `index_ann_pq_topk` trained oracles, `ann_ivfpq_topk`'s, and
    * `ann_pq_recall_trained`'s — ONE rendition of the training so the
    * oracles cannot drift): milli-unit cells (`pcell`) → subspace
    * layout (`psub`) → id-stride sample → `iters` unrolled Lloyd rounds
    * (exact-integer sub-distances, min-(dist², cid) assignment,
    * floor-requantized means; an emptied cell keeps its previous
    * sub-centroid) → full-corpus codes (`fcodes`) + the query's ADC
    * table (`tadc`). CTE names are `p`/`t`-prefixed so the chain
    * composes with `ivfAssignCtes`' names in one statement. */
  private def pqTrainedChainCtes(subDim: Int, ksub: Int,
                                 iters: Int, sampleMod: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"tc${r - 1}"
      s"""td$r AS (
         |  SELECT t.vec_id, t.sub, c.cid,
         |         CAST(sum((t.mv - c.cm) * (t.mv - c.cm)) AS BIGINT) AS dist2
         |  FROM tsmp t JOIN $prev c ON c.sub = t.sub AND c.d = t.d
         |  GROUP BY 1, 2, 3),
         |ta$r AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |             ORDER BY dist2, cid) AS rk
         |    FROM td$r) WHERE rk = 1),
         |tm$r AS (
         |  SELECT a.sub, a.cid, t.d,
         |         CAST(floor(sum(t.mv)::DOUBLE / count(*) + 0.5) AS BIGINT)
         |           AS nm
         |  FROM ta$r a JOIN tsmp t
         |    ON t.vec_id = a.vec_id AND t.sub = a.sub
         |  GROUP BY a.sub, a.cid, t.d),
         |tc$r AS (
         |  SELECT c.sub, c.d, c.cid, coalesce(m.nm, c.cm) AS cm
         |  FROM $prev c
         |  LEFT JOIN tm$r m
         |    ON m.sub = c.sub AND m.cid = c.cid AND m.d = c.d)""".stripMargin
    }.mkString(",\n")
    s"""pcell AS (
       |  SELECT vec_id,
       |         unnest(range(len(embedding))) AS dim,
       |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
       |           AS mv
       |  FROM embeddings),
       |psub AS (
       |  SELECT vec_id, CAST(dim // $subDim AS INTEGER) AS sub,
       |         dim % $subDim AS d, mv
       |  FROM pcell),
       |tsmp AS (SELECT * FROM psub WHERE vec_id % $sampleMod = 0),
       |tsid AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1
       |           AS INTEGER) AS cid
       |  FROM (SELECT DISTINCT vec_id FROM tsmp ORDER BY vec_id
       |        LIMIT $ksub)),
       |tc0 AS (
       |  SELECT t.sub, t.d, s.cid, t.mv AS cm
       |  FROM tsmp t JOIN tsid s USING (vec_id)),
       |$rounds,
       |fdist AS (
       |  SELECT p.vec_id, p.sub, c.cid,
       |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS dist2
       |  FROM psub p JOIN tc$iters c ON c.sub = p.sub AND c.d = p.d
       |  GROUP BY 1, 2, 3),
       |fcodes AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |             ORDER BY dist2, cid) AS rk
       |    FROM fdist) WHERE rk = 1),
       |tadc AS (
       |  SELECT p.sub, c.cid,
       |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS adist2
       |  FROM psub p JOIN tc$iters c ON c.sub = p.sub AND c.d = p.d
       |  WHERE p.vec_id = 0
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Trained-codebook PQ ANN top-k oracle — shared by `ann_pq_topk`
    * (session codes table) and `index_ann_pq_topk` (ingest-maintained
    * codes + frozen trained codebook): identical output contract. */
  private lazy val PqTopkTrainedSql: String =
    s"""WITH ${pqTrainedChainCtes(2, 16, 4, 2)},
       |tsc AS (
       |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
       |  FROM fcodes co JOIN tadc a ON a.sub = co.sub AND a.cid = co.cid
       |  WHERE co.vec_id <> 0
       |  GROUP BY co.vec_id)
       | SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
       | FROM tsc ORDER BY approx_dist, vec_id LIMIT 10""".stripMargin

  /** IVF-PQ (IVFADC) oracle with the TRAINED sub-codebooks (r14 serving
    * config): the seed-coarse IVF assignment/probe chain (shared with
    * `ann_ivf_topk` and the persisted emb_assign index table) narrows
    * candidates to the probed cells, then the trained PQ chain scores
    * those candidates only. Shared by `ann_ivfpq_topk` and
    * `index_ann_ivfpq_topk`. */
  private lazy val IvfPqTrainedSql: String =
    s"""${ivfAssignCtes(16)},
       |probe AS (
       |  SELECT cid FROM csims WHERE vec_id = 0
       |  ORDER BY csim DESC, cid LIMIT 4),
       |ivfcand AS (
       |  SELECT vec_id FROM assigned JOIN probe USING (cid)
       |  WHERE vec_id <> 0),
       |${pqTrainedChainCtes(2, 16, 4, 2)},
       |tsc AS (
       |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
       |  FROM fcodes co
       |  JOIN ivfcand USING (vec_id)
       |  JOIN tadc a ON a.sub = co.sub AND a.cid = co.cid
       |  GROUP BY co.vec_id)
       | SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
       | FROM tsc ORDER BY approx_dist, vec_id LIMIT 10""".stripMargin

  /** DuckDB rendition of [[VectorOps.annPqRecallTrained]]: the seed-
    * codebook PQ chain and the shared Lloyd-TRAINED chain are both
    * scored against the shared exact milli-L2 top-k baseline; one
    * overlap row per codebook variant. `subDim` = dims / m. */
  private def annPqRecallTrainedSql(k: Int, subDim: Int, ksub: Int,
                                    iters: Int, sampleMod: Int): String =
    s"""WITH ${pqTrainedChainCtes(subDim, ksub, iters, sampleMod)},
       |scb AS (
       |  SELECT sub, d, CAST(vec_id AS INTEGER) AS cid, mv AS cm
       |  FROM psub WHERE vec_id < $ksub),
       |sdist AS (
       |  SELECT p.vec_id, p.sub, c.cid,
       |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS dist2
       |  FROM psub p JOIN scb c ON c.sub = p.sub AND c.d = p.d
       |  GROUP BY 1, 2, 3),
       |scodes AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |             ORDER BY dist2, cid) AS rk
       |    FROM sdist) WHERE rk = 1),
       |sadc AS (
       |  SELECT p.sub, c.cid,
       |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS adist2
       |  FROM psub p JOIN scb c ON c.sub = p.sub AND c.d = p.d
       |  WHERE p.vec_id = 0
       |  GROUP BY 1, 2),
       |ssc AS (
       |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
       |  FROM scodes co JOIN sadc a ON a.sub = co.sub AND a.cid = co.cid
       |  WHERE co.vec_id <> 0
       |  GROUP BY co.vec_id),
       |pqs AS (
       |  SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
       |  FROM ssc ORDER BY approx_dist, vec_id LIMIT $k),
       |tsc AS (
       |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
       |  FROM fcodes co JOIN tadc a ON a.sub = co.sub AND a.cid = co.cid
       |  WHERE co.vec_id <> 0
       |  GROUP BY co.vec_id),
       |pqt AS (
       |  SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
       |  FROM tsc ORDER BY approx_dist, vec_id LIMIT $k),
       |q AS (SELECT dim, mv AS qm FROM pcell WHERE vec_id = 0),
       |ex AS (
       |  SELECT c.vec_id,
       |         CAST(sum((c.mv - q.qm) * (c.mv - q.qm)) AS BIGINT) AS dist2
       |  FROM pcell c JOIN q ON q.dim = c.dim
       |  WHERE c.vec_id <> 0
       |  GROUP BY c.vec_id
       |  ORDER BY dist2, vec_id LIMIT $k)
       | SELECT method, n_hits, floor((n_hits * 1.0 / $k) * 1e6 + 0.5) / 1e6 AS recall
       | FROM (
       |   SELECT 'pq_seed' AS method, count(*) AS n_hits
       |   FROM pqs JOIN ex USING (vec_id)
       |   UNION ALL
       |   SELECT 'pq_trained' AS method, count(*) AS n_hits
       |   FROM pqt JOIN ex USING (vec_id))
       | ORDER BY method""".stripMargin

  /** Shared batch-ANN tail over a `cand(query_id, vec_id)` CTE: exact
    * per-(query, candidate) cosine + the per-query rank-filter top-k —
    * the tail both batch oracles ([[annIvfBatchSql]] /
    * [[annLshBatchSql]]) close with. */
  private def annBatchTailSql(nQueries: Int, k: Int): String =
    s"""qs AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id < $nQueries),
       |prs AS (
       |  SELECT c.query_id, c.vec_id, unnest(e.embedding)::DOUBLE AS a,
       |         unnest(qs.qv)::DOUBLE AS b
       |  FROM cand c JOIN embeddings e USING (vec_id)
       |  JOIN qs ON qs.query_id = c.query_id),
       |sims AS (
       |  SELECT query_id, vec_id,
       |         sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS sim
       |  FROM prs GROUP BY query_id, vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims)
       | SELECT query_id, rank, vec_id, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
       | FROM ranked WHERE rank <= $k
       | ORDER BY query_id, rank""".stripMargin

  /** DuckDB rendition of [[VectorOps.annIvfBatchTopk]]: the per-query
    * probe sets come from a row_number window over the shared `csims`
    * CTE, candidates from the assignment join, and the per-query top-k
    * from a rank-filter window — the same shape the engine runs. */
  private def annIvfBatchSql(nQueries: Int, k: Int, nCentroids: Int,
                             nprobe: Int): String =
    s"""${ivfAssignCtes(nCentroids)},
       |probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY csim DESC, cid) AS rk
       |    FROM csims WHERE vec_id < $nQueries)
       |  WHERE rk <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE a.vec_id <> p.query_id),
       |${annBatchTailSql(nQueries, k)}""".stripMargin

  /** DuckDB rendition of [[VectorOps.annLshBatchTopk]]: query bucket
    * signatures join the bucket CTE for candidates, then the shared
    * batch tail. */
  private def annLshBatchSql(nQueries: Int, k: Int, tables: Int,
                             bits: Int, dim: Int): String =
    s"""WITH ${lshBucketCtes(tables, bits, dim)},
       |qb AS (
       |  SELECT vec_id AS query_id, tbl, bucket FROM bkt
       |  WHERE vec_id < $nQueries),
       |cand AS (
       |  SELECT DISTINCT q.query_id, b.vec_id
       |  FROM bkt b JOIN qb q USING (tbl, bucket)
       |  WHERE b.vec_id <> q.query_id),
       |${annBatchTailSql(nQueries, k)}""".stripMargin

  /** Exact cosine over ALL non-query vectors + the exact top-k cut
    * (`q`/`prsall`/`sall`/`exact_k`) — the baseline CTE block the
    * recall oracles share. */
  private def scoredAllCtes(k: Int): String =
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |prsall AS (
       |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
       |         unnest(q.qv)::DOUBLE AS b
       |  FROM embeddings e, q WHERE e.vec_id <> 0),
       |sall AS (
       |  SELECT vec_id, sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS sim
       |  FROM prsall GROUP BY vec_id),
       |exact_k AS (SELECT vec_id FROM sall ORDER BY sim DESC, vec_id LIMIT $k)""".stripMargin

  /** DuckDB rendition of [[VectorOps.annIvfRecallSweep]]: one shared
    * assignment + exact-baseline chain, then per-nprobe probe/candidate/
    * top-k CTEs unioned into the (nprobe, n_hits, recall) curve. */
  private def annIvfSweepSql(k: Int, nCentroids: Int,
                             nprobes: Seq[Int]): String = {
    val per = nprobes.map { np =>
      s"""probe$np AS (
         |  SELECT cid FROM csims WHERE vec_id = 0
         |  ORDER BY csim DESC, cid LIMIT $np),
         |cand$np AS (
         |  SELECT vec_id FROM assigned JOIN probe$np USING (cid)
         |  WHERE vec_id <> 0),
         |top$np AS (
         |  SELECT s.vec_id FROM sall s JOIN cand$np USING (vec_id)
         |  ORDER BY s.sim DESC, s.vec_id LIMIT $k)""".stripMargin
    }.mkString(",\n")
    val unions = nprobes.map { np =>
      s"""SELECT $np AS nprobe, count(*) AS n_hits
         |  FROM top$np JOIN exact_k USING (vec_id)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""${ivfAssignCtes(nCentroids)},
       |${scoredAllCtes(k)},
       |$per,
       |hits AS (
       |  $unions)
       | SELECT CAST(nprobe AS BIGINT) AS nprobe,
       |        CAST(n_hits AS BIGINT) AS n_hits,
       |        floor((n_hits * 1.0 / $k) * 1e6 + 0.5) / 1e6 AS recall
       | FROM hits ORDER BY nprobe""".stripMargin
  }

  /** DuckDB rendition of [[VectorOps.annRecall]]: both registered
    * candidate generators (LSH buckets, IVF probed cells) + the exact
    * all-vector scoring, each cut to top-k on the same (sim DESC, vec_id)
    * order, overlap-counted per method. Composes the same CTE chains the
    * individual ANN oracles use (CTE names are disjoint by construction:
    * signs/proj/bkt vs cents/csims/assigned). */
  private def annRecallSql(k: Int, tables: Int, bits: Int, dim: Int,
                           nCentroids: Int, nprobe: Int): String =
    s"""WITH ${lshBucketCtes(tables, bits, dim)},
       |qb AS (SELECT tbl, bucket FROM bkt WHERE vec_id = 0),
       |candl AS (
       |  SELECT DISTINCT b.vec_id FROM bkt b JOIN qb USING (tbl, bucket)
       |  WHERE b.vec_id <> 0),
       |${ivfAssignCtes(nCentroids).replaceFirst("WITH ", "")},
       |probe AS (
       |  SELECT cid FROM csims WHERE vec_id = 0
       |  ORDER BY csim DESC, cid LIMIT $nprobe),
       |candi AS (
       |  SELECT vec_id FROM assigned JOIN probe USING (cid)
       |  WHERE vec_id <> 0),
       |${scoredAllCtes(k)},
       |lsh_k AS (
       |  SELECT s.vec_id FROM sall s JOIN candl USING (vec_id)
       |  ORDER BY s.sim DESC, s.vec_id LIMIT $k),
       |ivf_k AS (
       |  SELECT s.vec_id FROM sall s JOIN candi USING (vec_id)
       |  ORDER BY s.sim DESC, s.vec_id LIMIT $k),
       |hits AS (
       |  SELECT 'ivf' AS method, count(*) AS n_hits
       |  FROM ivf_k JOIN exact_k USING (vec_id)
       |  UNION ALL
       |  SELECT 'lsh' AS method, count(*) AS n_hits
       |  FROM lsh_k JOIN exact_k USING (vec_id))
       | SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
       |        floor((n_hits * 1.0 / $k) * 1e6 + 0.5) / 1e6 AS recall
       | FROM hits ORDER BY method""".stripMargin

  /** DuckDB rendition of `TextOps.md5Bucket`: nibble-by-nibble decode of
    * the first `digits` md5 hex digits of the decimal doc_id, reduced
    * mod `mod` — ONE generator for every bucket-family oracle, so the
    * Spark helper and its SQL mirrors cannot drift apart. */
  private def md5BucketSql(digits: Int, mod: Long,
                           idCol: String = "doc_id"): String =
    (1 to digits).map { k =>
      val pw = BigInt(16).pow(digits - k)
      s"(strpos('0123456789abcdef', substr(md5($idCol::VARCHAR), $k, 1)) - 1) * $pw"
    }.mkString("((", "\n     + ", s") % $mod)")

  /** DuckDB rendition of the engine's `conv(substring(<digest>, start,
    * len), 16, 10) % mod` hash idiom (the [[minhashSigCtes]] decode over
    * an arbitrary hex-slice): `len` hex digits from position `start` of
    * `md5(arg)` decoded nibble-by-nibble, reduced once — shared by the
    * count-min and bloom sketch oracles (which take DISJOINT slices of
    * one digest as their independent hash rows) so the hash family
    * cannot drift from the engine's. */
  private def md5SliceModSql(arg: String, start: Int, len: Int,
                             mod: Long): String =
    (0 until len).map { j =>
      val p = (0 until (len - 1 - j)).foldLeft(1L)((a, _) => a * 16)
      val d =
        s"(strpos('0123456789abcdef', substr(md5($arg), ${start + j}, 1)) - 1)"
      if (p == 1L) d else s"$d * $p"
    }.mkString("(", " + ", s") % $mod")

  /** Count-min sketch oracle: exact token counts → 4 digest-slice hash rows ×
    * 512 buckets → min-of-rows estimate at the exact top-20, mirroring
    * TextOps.sketchCmsTopk cell for cell. */
  private lazy val CmsTopkSql: String = {
    val (depth, width, k) = (4, 16L, 20)
    def bucket(j: Int) = md5SliceModSql("tok", 1 + 8 * j, 8, width)
    val cellSel = (0 until depth).map(j =>
      s"SELECT $j AS row_id, ${bucket(j)} AS bucket, cnt FROM tc")
      .mkString("\n    UNION ALL ")
    val probeSel = (0 until depth).map(j =>
      s"SELECT tok, cnt, $j AS row_id, ${bucket(j)} AS bucket FROM top")
      .mkString("\n    UNION ALL ")
    s"""WITH tc AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split($NormSql, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY tok),
       |cells AS (
       |  SELECT row_id, bucket, CAST(sum(cnt) AS BIGINT) AS cell_sum
       |  FROM ($cellSel)
       |  GROUP BY row_id, bucket),
       |top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT $k),
       |probes AS ($probeSel)
       | SELECT p.tok, p.cnt AS exact_count,
       |        CAST(min(c.cell_sum) AS BIGINT) AS cms_estimate,
       |        CAST(min(c.cell_sum) - p.cnt AS BIGINT) AS overcount
       | FROM probes p JOIN cells c USING (row_id, bucket)
       | GROUP BY p.tok, p.cnt
       | ORDER BY exact_count DESC, tok""".stripMargin
  }

  /** Count-sketch oracle: 5 disjoint 6-hex-digit slices of one digest per
    * token — bucket = slice mod 16 (low bits), sign = slice's top bit
    * (first digit >= 8) — signed cell sums, estimate = exact integer
    * median (sorted element 3 of 5), mirroring TextOps.sketchCountSketch
    * cell for cell. */
  private lazy val CountSketchSql: String = {
    val (depth, width, k) = (5, 16L, 20)
    def bucket(j: Int) = md5SliceModSql("tok", 1 + 6 * j, 6, width)
    def sgn(j: Int) =
      s"(CASE WHEN (strpos('0123456789abcdef', " +
        s"substr(md5(tok), ${1 + 6 * j}, 1)) - 1) >= 8 " +
        "THEN 1 ELSE -1 END)"
    val cellSel = (0 until depth).map(j =>
      s"SELECT $j AS row_id, ${bucket(j)} AS bucket, ${sgn(j)} AS sgn, " +
        "cnt FROM tc")
      .mkString("\n    UNION ALL ")
    val probeSel = (0 until depth).map(j =>
      s"SELECT tok, cnt, $j AS row_id, ${bucket(j)} AS bucket, " +
        s"${sgn(j)} AS sgn FROM top")
      .mkString("\n    UNION ALL ")
    val med = (depth + 1) / 2
    s"""WITH tc AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split($NormSql, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY tok),
       |cells AS (
       |  SELECT row_id, bucket, CAST(sum(sgn * cnt) AS BIGINT) AS cell_sum
       |  FROM ($cellSel)
       |  GROUP BY row_id, bucket),
       |top AS (SELECT tok, cnt FROM tc ORDER BY cnt DESC, tok LIMIT $k),
       |probes AS ($probeSel)
       | SELECT p.tok, p.cnt AS exact_count,
       |        CAST(list_sort(list(p.sgn * c.cell_sum))[$med] AS BIGINT)
       |          AS cs_estimate,
       |        CAST(list_sort(list(p.sgn * c.cell_sum))[$med] - p.cnt
       |          AS BIGINT) AS error
       | FROM probes p JOIN cells c USING (row_id, bucket)
       | GROUP BY p.tok, p.cnt
       | ORDER BY exact_count DESC, tok""".stripMargin
  }

  /** Bloom decontamination oracle: bench shingles → distinct (salt,
    * md5-position mod 8192) bits; a test shingle is flagged iff all 3
    * positions are set; exact bench join alongside — mirroring
    * TextOps.contaminationBloom. */
  private lazy val ContaminationBloomSql: String = {
    val (kHash, m) = (3, 8192L)
    def pos(i: Int) = md5SliceModSql("s", 1 + 10 * i, 10, m)
    val bitSel = (0 until kHash).map(i =>
      s"SELECT DISTINCT $i AS i, ${pos(i)} AS pos FROM bsh")
      .mkString("\n    UNION ALL ")
    val probeSel = (0 until kHash).map(i =>
      s"SELECT doc_id, s, $i AS i, ${pos(i)} AS pos FROM tsh")
      .mkString("\n    UNION ALL ")
    s"""$ShinglesBaseCte,
       |shs AS (
       |  SELECT sh.doc_id, sh.s, d.source
       |  FROM sh JOIN documents d USING (doc_id)),
       |bsh AS (SELECT DISTINCT s FROM shs
       |        WHERE source IN ('src12', 'src18')),
       |tsh AS (SELECT doc_id, s FROM shs
       |        WHERE source NOT IN ('src12', 'src18')),
       |bits AS ($bitSel),
       |probes AS ($probeSel),
       |flag AS (
       |  SELECT doc_id, s FROM probes JOIN bits USING (i, pos)
       |  GROUP BY doc_id, s HAVING count(*) = $kHash),
       |fl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
       |       FROM flag GROUP BY doc_id),
       |ex AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact
       |       FROM tsh JOIN bsh USING (s) GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
       |        FROM tsh GROUP BY doc_id)
       | SELECT t.doc_id, t.n_shingles,
       |        CAST(coalesce(fl.n_flagged, 0) AS BIGINT) AS n_flagged,
       |        CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact,
       |        CAST(coalesce(fl.n_flagged, 0) - coalesce(ex.n_exact, 0)
       |             AS BIGINT) AS n_false_pos
       | FROM tot t
       | LEFT JOIN fl USING (doc_id) LEFT JOIN ex USING (doc_id)
       | WHERE coalesce(fl.n_flagged, 0) > 0
       | ORDER BY doc_id""".stripMargin
  }

  /** The `fetch_range` oracle — shared by `fetch_range_store`, whose
    * `Engine.fetchSparse` off the (pb, pd) store must return the
    * identical window. */
  private val FetchRangeSql: String =
    s"""$PtsCte SELECT ts, value FROM pts
       | WHERE metric = 'events.purchase' AND ts >= 1704412800 AND ts < 1705021200
       | ORDER BY ts""".stripMargin

  /** The `events_sessionize` oracle — shared by
    * `events_sessionize_bucketed`: the (user, day)-pre-bucketed plan
    * stitches partial sessions to the identical session set. */
  /** Per-source KL drift oracle — shared by the session and
    * index-served faces (one definition, two read paths). */
  private lazy val SourceKlSql: String =
    s"""WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS w
        |  FROM documents),
        |st AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cs
        |  FROM toks GROUP BY source, w),
        |corpus AS (SELECT w, CAST(sum(cs) AS BIGINT) AS cf FROM st GROUP BY w),
        |totals AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns
        |           FROM st GROUP BY source),
        |grand AS (SELECT CAST(sum(cf) AS BIGINT) AS nn FROM corpus),
        |kl AS (
        |  SELECT st.source, any_value(ns) AS n_tokens,
        |         CAST(floor(sum(cs * ln(CAST(cs * nn AS DOUBLE)
        |               / CAST(ns * cf AS DOUBLE)))
        |           / any_value(ns) * 1000000.0 + 0.5) AS BIGINT) AS klu
        |  FROM st JOIN corpus USING (w) JOIN totals USING (source)
        |  CROSS JOIN grand
        |  GROUP BY st.source)
        | SELECT source, n_tokens, floor((klu / 1000000.0) * 1e6 + 0.5) / 1e6 AS kl
        | FROM kl ORDER BY source""".stripMargin

  /** Gopher rule-gate oracle — shared by the session and index faces. */
  private lazy val GopherRulesSql: String =
    s"""WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS tok
        |  FROM documents),
        |dw AS (
        |  SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, source, tok),
        |d AS (
        |  SELECT doc_id, source,
        |         CAST(sum(c) AS BIGINT) AS words,
        |         CAST(count(*) AS BIGINT) AS types,
        |         CAST(sum(length(tok) * c) AS BIGINT) AS len_mass,
        |         CAST(sum(CASE WHEN tok IN
        |           ('the','a','of','to','and','in','is','it')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS stop_types
        |  FROM dw GROUP BY doc_id, source),
        |r AS (
        |  SELECT source,
        |         (words < 50 OR words > 100000) AS f_wc,
        |         (len_mass < words * 3 OR len_mass > words * 10) AS f_mwl,
        |         (stop_types < 2) AS f_stop,
        |         (types * 5 < words) AS f_ttr
        |  FROM d)
        | SELECT source, count(*) AS n_docs,
        |        CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT)
        |          AS fail_word_count,
        |        CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT)
        |          AS fail_mean_word_len,
        |        CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
        |          AS fail_stopwords,
        |        CAST(sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT)
        |          AS fail_ttr,
        |        CAST(sum(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_stop
        |          AND NOT f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        | FROM r GROUP BY source ORDER BY source""".stripMargin

  private val SessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id FROM events),
      |m AS (
      |  SELECT user_id, s, event_id,
      |         CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 3600
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
      |sess AS (
      |  SELECT user_id, s,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY s, event_id
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM m)
      | SELECT user_id, session_id, count(*) AS n_events,
      |        min(s) AS start_s, max(s) AS end_s
      | FROM sess GROUP BY user_id, session_id
      | ORDER BY user_id, session_id""".stripMargin

  /** Inline meta VALUES CTE fragment (matches Catalog.metricsMeta). */
  private val MetaCte: String =
    """meta(metric, method, xff) AS (VALUES
      |   ('events.click', 'average', 0.5), ('events.error', 'max', 0.5),
      |   ('events.purchase', 'sum', 0.5), ('events.signup', 'last', 0.5),
      |   ('events.view', 'average', 0.5))""".stripMargin

  /** Shared multi-face oracle grid CTE: every cataloged metric × the
    * window, with optional derived columns (`extra` must be a
    * single-line SQL fragment starting with ", ").
    *
    * NOT stripMargin-ed here — margins are stripped exactly once by the
    * consuming oracle string (the BpeTrainChain rule). */
  private def multiGridCte(extra: String = ""): String =
    s"""$PtsCte, $MetaCte, grid AS (
       |  SELECT m.metric, g.ts, p.value$extra
       |  FROM (SELECT metric FROM meta) m
       |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
       |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)"""

  /** DuckDB rendition of the multi-resolution read
    * ([[SeriesOps.multiresStore]] + [[SeriesOps.fetchRangeFrom]] /
    * [[SeriesOps.densifyGridFrom]]): rebuild the mixed-step store (hourly
    * rows from the split on, the xff-gated daily rollup before it), then
    * reconcile the read window onto the coarsest step present for the
    * metric — the one reference semantic (`CeresNode.read` ≈L490–510
    * reconcile) a single-step store can never exercise. `aggExpr` is the
    * metric's aggregation method; results round to 6 dp on both sides
    * (multi-row float sums re-associate across engines). */
  /** Shared CTE chain rebuilding [[SeriesOps.multiresStore]] in DuckDB:
    * `store(metric, step, ts, value)` = hourly rows from the split on,
    * xff-gated daily rollup before it. */
  private val MultiresStoreCtes: String =
    s"""$PtsCte,
       |$MetaCte,
       |coarse AS (
       |  SELECT metric, ts, value FROM (
       |    SELECT p.metric, p.ts - (p.ts % 86400) AS ts,
       |           count(p.value) AS known,
       |           CASE any_value(m.method)
       |             WHEN 'average' THEN floor((avg(p.value)) * 1e6 + 0.5) / 1e6
       |             WHEN 'sum' THEN floor((sum(p.value)) * 1e6 + 0.5) / 1e6
       |             WHEN 'min' THEN min(p.value)
       |             WHEN 'max' THEN max(p.value)
       |             ELSE arg_max(p.value, p.ts) END AS value,
       |           any_value(m.xff) AS xff
       |    FROM pts p JOIN meta m ON p.metric = m.metric
       |    WHERE p.ts < ${SeriesOps.MultiresSplit}
       |    GROUP BY p.metric, p.ts - (p.ts % 86400))
       |  WHERE known / 24.0 >= xff),
       |store AS (
       |  SELECT metric, CAST(3600 AS BIGINT) AS step, ts, value FROM pts
       |  WHERE ts >= ${SeriesOps.MultiresSplit}
       |  UNION ALL
       |  SELECT metric, CAST(86400 AS BIGINT) AS step, ts, value FROM coarse)""".stripMargin

  private def multiresReadSql(metric: String, aggExpr: String,
                              dense: Boolean): String = {
    val f = SeriesOps.From
    val u = 1705021200L // alignUntil(Until, 3600): up one full step
    val head =
      s"""$MultiresStoreCtes,
         |win AS (SELECT * FROM store
         |        WHERE metric = '$metric' AND ts >= $f AND ts < $u),
         |tgt AS (SELECT max(step) AS tstep FROM win),
         |ser AS (
         |  SELECT bts AS ts, floor(($aggExpr) * 1e6 + 0.5) / 1e6 AS value FROM (
         |    SELECT w.ts - ((w.ts - $f) % t.tstep) AS bts, w.ts AS ts,
         |           w.value AS value
         |    FROM win w, tgt t)
         |  GROUP BY bts)""".stripMargin
    val tail =
      if (dense)
        s""" SELECT g.ts, s.value
           | FROM (SELECT unnest(generate_series($f, ${u - 1}, t.tstep)) AS ts
           |       FROM tgt t) g
           | LEFT JOIN ser s USING (ts) ORDER BY ts""".stripMargin
      else " SELECT ts, value FROM ser ORDER BY ts"
    head + "\n" + tail
  }

  /** Deterministic now-anchor for the maintenance-cascade query:
    * 2024-01-31 00:00 UTC, one hour past the catalog's last point. */
  private val CascadeNow = 1706659200L

  /** Three-tier cascade config (1 h × 72, 1 d × 7, 1 w × 1) — chosen so
    * every maintenance stage does real work on the Jan-2024 catalog (see
    * the `maintenance_cascade` registration comment). */
  private val CascadeTiers = {
    import graft.streaming.Maintenance.Tier
    Seq(Tier(3600L, 72L), Tier(86400L, 7L), Tier(604800L, 1L))
  }

  /** Metrics on the [[CascadeTiers]] ladder in the TWO-LADDER per-node
    * catalog ([[perNodeMeta]]); the rest carry [[PerNodeTiersB]]. */
  private val PerNodeGroupA = Seq("events.purchase", "events.view")

  /** The second ladder of the per-node catalog: 1 h × 96, 1 d × 14 —
    * bands at [[CascadeNow]]: hourly keeps ts >= 1706313600 (overflow
    * below rolls to daily), daily expires ts < 1705104000. Both stages
    * do real work on the Jan-2024 catalog, and both band sets differ
    * from [[CascadeTiers]]', so the query genuinely exercises per-node
    * dispatch (the reference's `rollup.py node_found` reads EACH node's
    * own retentions). */
  private val PerNodeTiersB = {
    import graft.streaming.Maintenance.Tier
    Seq(Tier(3600L, 96L), Tier(86400L, 14L))
  }

  /** The catalog with HETEROGENEOUS retention config — [[PerNodeGroupA]]
    * metrics on the three-tier cascade ladder, `events.error` with an
    * EMPTY retentions list (no archive bands: the reference's
    * maintenance skips nodes without retention metadata, so its rows
    * pass through unmaintained), the rest on the two-tier
    * [[PerNodeTiersB]] — for the `maintenance_per_node` query. */
  private def perNodeMeta(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{array, lit, struct, when}
    def ladder(tiers: Seq[graft.streaming.Maintenance.Tier]) =
      array(tiers.map(t => struct(lit(t.precision).as("precision"),
        lit(t.points).as("points"))): _*)
    val none = array()
      .cast("array<struct<precision:bigint,points:bigint>>")
    graft.core.Catalog.metricsMeta(s).withColumn("retentions",
      when(col("metric").isin(PerNodeGroupA: _*), ladder(CascadeTiers))
        .when(col("metric") === "events.error", none)
        .otherwise(ladder(PerNodeTiersB)))
  }

  /** The harness corpus served as a real store, through the user-facing
    * [[Engine.openStore]]: the (pb, pd) points store and a metadata log
    * holding [[graft.core.Catalog.metricsMeta]] (the form
    * `MetaStore.compact` writes), each BuildOnce-written per JVM per
    * corpus — in production the ingest side maintains both; queries only
    * read them. The `_store` faces are this engine's requests. */
  private def storeEngine(s: SparkSession, d: String): Engine = {
    import graft.core.{BuildOnce, Catalog, MetaStore}
    val store = BuildOnce.dir(s, "graft_points_store", d) { path =>
      graft.streaming.Ingest.appendToStore(Catalog.pointsCached(s, d), path)
    }
    val meta = BuildOnce.dir(s, "graft_points_meta", d) { path =>
      MetaStore.writeResolved(Catalog.metricsMeta(s), path)
    }
    Engine.openStore(s, store, meta)
  }

  /** Flagship query on sf=0.001: dense hourly grid of events.purchase over
    * the read window — scan, align, max-wins compact, reconcile, grid
    * join. */
  def entry(spark: SparkSession): DataFrame =
    SeriesOps.densifyGrid(spark, "/root/testdata/sf0.001",
      "events.purchase", SeriesOps.From, SeriesOps.Until)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // —— §2.1 scans / catalog ——
    "walk_tree" -> ((s, d) => SeriesOps.walkTree(s, d)),
    "find_glob" -> ((s, d) => SeriesOps.findGlob(s, d, "events.*r*")),
    "find_interval" -> ((s, d) => SeriesOps.findInterval(s, d, "events.*",
      SeriesOps.From, SeriesOps.Until)),
    "has_node" -> ((s, d) => SeriesOps.hasNode(s, d, "events.purchase")),
    "slice_info" -> ((s, d) => SeriesOps.sliceInfo(s, d)),
    // —— §2.2 read path ——
    "fetch_range" -> ((s, d) => SeriesOps.fetchRange(s, d, "events.purchase",
      SeriesOps.From, SeriesOps.Until)),
    // the SAME read served by a store-backed Engine: one partition-pruned
    // scan of the metric's bucket × dates (PartitionFilters, pinned in
    // PlanSpec) — every range read's at-100 TB shape, on fetch_range's
    // oracle
    "fetch_range_store" -> ((s, d) => storeEngine(s, d)
      .fetchSparse("events.purchase", SeriesOps.From, SeriesOps.Until)),
    // the Engine's pattern read: one pruned scan for the union of the
    // matches' bucket directories × dates
    "fetch_pattern_store" -> ((s, d) => storeEngine(s, d)
      .fetchPattern("events.*", SeriesOps.From, SeriesOps.Until)),
    "densify_grid" -> ((s, d) => SeriesOps.densifyGrid(s, d, "events.purchase",
      SeriesOps.From, SeriesOps.Until)),
    // the flagship grid read as Engine.fetch off the (pb, pd) store —
    // pruned scan, reconcile, grid padding; densify_grid's oracle verbatim
    "densify_grid_store" -> ((s, d) => storeEngine(s, d)
      .fetch("events.purchase", SeriesOps.From, SeriesOps.Until)),
    // graphite functions-layer reads over the densified grid: counter →
    // delta/per-second rate (nonNegativeDerivative), and the trailing
    // 6-slot movingAverage (integer micro-unit window sums for parity)
    "series_derivative" -> ((s, d) => SeriesOps.seriesDerivative(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    "series_moving_avg" -> ((s, d) => SeriesOps.seriesMovingAvg(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 6)),
    // the render path's real call shape (glob -> N series -> transform
    // each) for the three highest-traffic transforms: windows PARTITION
    // BY METRIC over the shared multi-metric dense grid, so the
    // per-metric sort never moves the whole read to one partition
    // (PlanSpec pins hashpartitioning(metric) under each window)
    "series_derivative_multi" -> ((s, d) =>
      SeriesOps.seriesDerivativeMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_moving_avg_multi" -> ((s, d) =>
      SeriesOps.seriesMovingAvgMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6)),
    "series_zscore_multi" -> ((s, d) =>
      SeriesOps.seriesZscoreMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6, 2.0)),
    "series_keep_last_multi" -> ((s, d) =>
      SeriesOps.seriesKeepLastMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 3)),
    "series_integral_multi" -> ((s, d) =>
      SeriesOps.seriesIntegralMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_ewma_multi" -> ((s, d) =>
      SeriesOps.seriesEwmaMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 16)),
    "series_stdev_multi" -> ((s, d) =>
      SeriesOps.seriesStdevMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6)),
    "series_moving_median_multi" -> ((s, d) =>
      SeriesOps.seriesMovingMedianMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6)),
    "series_interpolate_multi" -> ((s, d) =>
      SeriesOps.seriesInterpolateMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_summarize_multi" -> ((s, d) =>
      SeriesOps.seriesSummarizeMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 14400)),
    "series_moving_sum_multi" -> ((s, d) =>
      SeriesOps.seriesMovingSumMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6)),
    "series_moving_minmax_multi" -> ((s, d) =>
      SeriesOps.seriesMovingMinmaxMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 6)),
    "series_per_second_multi" -> ((s, d) =>
      SeriesOps.seriesPerSecondMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 1000.0)),
    "series_delay_multi" -> ((s, d) =>
      SeriesOps.seriesDelayMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 3)),
    "series_changed_multi" -> ((s, d) =>
      SeriesOps.seriesChangedMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_integral_by_interval_multi" -> ((s, d) =>
      SeriesOps.seriesIntegralByIntervalMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 14400)),
    "series_offset_to_zero_multi" -> ((s, d) =>
      SeriesOps.seriesOffsetToZeroMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_min_max_multi" -> ((s, d) =>
      SeriesOps.seriesMinMaxMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_hitcount_multi" -> ((s, d) =>
      SeriesOps.seriesHitcountMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 14400)),
    "series_outlier_mad_multi" -> ((s, d) =>
      SeriesOps.seriesOutlierMadMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 3.5)),
    "series_bands_multi" -> ((s, d) =>
      SeriesOps.seriesBandsMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 12, 2.0)),
    "series_changepoint_multi" -> ((s, d) =>
      SeriesOps.seriesChangepointMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_autocorrelation_multi" -> ((s, d) =>
      SeriesOps.seriesAutocorrelationMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 48)),
    "series_theil_sen_multi" -> ((s, d) =>
      SeriesOps.seriesTheilSenMulti(s, d,
        SeriesOps.From, SeriesOps.Until)),
    "series_seasonal_decompose_multi" -> ((s, d) =>
      SeriesOps.seriesSeasonalDecomposeMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 24, 12)),
    "series_anomaly_stl_multi" -> ((s, d) =>
      SeriesOps.seriesAnomalyStlMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 24, 12, 3.0)),
    "series_stl_strength_multi" -> ((s, d) =>
      SeriesOps.seriesStlStrengthMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 24, 12)),
    "series_holt_winters_bands_multi" -> ((s, d) =>
      SeriesOps.seriesHoltWintersBandsMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 24, 3.0)),
    // more graphite functions-layer reads: coarse re-bucketing, bounded
    // forward-fill, running total, day-over-day overlay, and the first
    // MULTI-metric read (top-n by in-window mean)
    "series_summarize" -> ((s, d) => SeriesOps.seriesSummarize(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 14400)),
    "series_keep_last" -> ((s, d) => SeriesOps.seriesKeepLast(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 3)),
    // hitcount: integral-preserving re-bucket (slot value × step summed
    // per 4h bucket — rate series re-bucket to event TOTALS)
    "series_hitcount" -> ((s, d) => SeriesOps.seriesHitcount(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 14400)),
    // round-12 graphite-functions wave: trailing sum/min/max in one
    // window read (movingSum/movingMin/movingMax)
    "series_moving_sum" -> ((s, d) => SeriesOps.seriesMovingSum(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 6)),
    // pointwise transforms: log10 (None at v <= 0), and the
    // absolute/offset/scale/invert family off one grid scan
    "series_log" -> ((s, d) => SeriesOps.seriesLog(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    "series_absolute" -> ((s, d) => SeriesOps.seriesAbsolute(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // minMax normalization over the window (constant series → 0)
    "series_min_max" -> ((s, d) => SeriesOps.seriesMinMax(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // the flat nPercentile overlay line / removeAbovePercentile nulling,
    // both off the engine's exact sort-based quantile core
    "series_npercentile" -> ((s, d) => SeriesOps.seriesNPercentile(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 0.95)),
    "series_remove_above_percentile" ->
      ((s, d) => SeriesOps.seriesRemoveAbovePercentile(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 0.9)),
    "series_remove_below_percentile" ->
      ((s, d) => SeriesOps.seriesRemoveBelowPercentile(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 0.1)),
    // removeBetweenPercentile: cross-series percentile band per slot
    // (graphite's non-interpolating rank pick — comparison-only), keep
    // metrics that ever leave it
    "series_remove_between_percentile" ->
      ((s, d) => SeriesOps.seriesRemoveBetweenPercentile(s, d,
        SeriesOps.From, SeriesOps.Until, 60)),
    // change detector: 1 where the slot differs from its predecessor
    "series_changed" -> ((s, d) => SeriesOps.seriesChanged(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // the flat avg/min/max overlay lines (aggregateLine), one 1-row
    // aggregate broadcast onto the grid
    "series_aggregate_line" -> ((s, d) => SeriesOps.seriesAggregateLine(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // two-series slot-wise product (multiplySeries)
    "series_multiply" -> ((s, d) => SeriesOps.seriesMultiply(s, d,
      "events.purchase", "events.view", SeriesOps.From, SeriesOps.Until)),
    // panel ordering by in-window maximum (sortByMaxima)
    "series_sort_by_maxima" -> ((s, d) => SeriesOps.seriesSortByMaxima(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // noisiest-series selection (mostDeviant): exact integer milli-unit
    // moment sums per metric, population sigma, metadata-sized rank
    "series_most_deviant" -> ((s, d) => SeriesOps.seriesMostDeviant(
      s, d, SeriesOps.From, SeriesOps.Until, 3)),
    // trailing-window extremes (movingMin + movingMax in one read)
    "series_moving_minmax" -> ((s, d) => SeriesOps.seriesMovingMinmax(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 6)),
    // two-series slot-wise difference (diffSeries), None-propagating
    "series_diff" -> ((s, d) => SeriesOps.seriesDiff(s, d,
      "events.view", "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // cross-series per-slot spread + live-series count
    // (rangeOfSeries + countSeries in one read)
    "series_range_of_series" -> ((s, d) => SeriesOps.seriesRangeOfSeries(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // series selection by aggregate (averageAbove): micro-int means
    // gate the catalog, survivors ride the fetch_pattern read core
    "series_average_above" -> ((s, d) => SeriesOps.seriesAverageAbove(
      s, d, SeriesOps.From, SeriesOps.Until, 85.0)),
    // cross-series pointwise population sigma (stddevSeries): milli-int
    // moments per slot, padded onto the dense grid
    "series_stddev_series" -> ((s, d) => SeriesOps.seriesStddevSeries(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // graphite's DEFAULT summarize alignment (alignToFrom=False):
    // epoch-multiple buckets, partial edge buckets included — a 10000 s
    // interval deliberately not dividing the window start
    "series_summarize_aligned" -> ((s, d) => SeriesOps.seriesSummarizeAligned(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 10000L)),
    // gap handling pair (transformNull + isNonNull in one read)
    "series_transform_null" -> ((s, d) => SeriesOps.seriesTransformNull(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 0.0)),
    // floor gate (removeBelowValue): sub-threshold slots become gaps,
    // the timeline stays dense
    "series_remove_below_value" -> ((s, d) => SeriesOps.seriesRemoveBelowValue(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 85.0)),
    // series selection by path regex (exclude): catalog-gated, survivors
    // ride the fetch_pattern read core
    "series_exclude" -> ((s, d) => SeriesOps.seriesExclude(
      s, d, "error|signup", SeriesOps.From, SeriesOps.Until)),
    // KEEP dual of exclude (grep): regex-matched metrics ride the same
    // fetch_pattern read core
    "series_grep" -> ((s, d) => SeriesOps.seriesGrep(
      s, d, "purchase|click", SeriesOps.From, SeriesOps.Until)),
    // counter-to-rate with wrap recovery (perSecond): negative deltas
    // explained by a maxValue-capped counter wrap recover the true rate
    "series_per_second" -> ((s, d) => SeriesOps.seriesPerSecond(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 1000.0)),
    // nonNegativeDerivative (maxValue=None): counter-reset deltas
    // nulled, no rate division — comparison + one IEEE subtraction
    "series_non_negative_derivative" ->
      ((s, d) => SeriesOps.seriesNonNegativeDerivative(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // slot-domain lag (delay): values shifted 3 grid slots later, first
    // slots null — no second read, unlike time_shift
    "series_delay" -> ((s, d) => SeriesOps.seriesDelay(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 3)),
    // baseline normalizer (offsetToZero): in-window min subtracted,
    // min is comparison-only so no quantization needed
    "series_offset_to_zero" -> ((s, d) => SeriesOps.seriesOffsetToZero(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // volume ranking (sortByTotal): micro-int window sums per metric,
    // rank window over the O(#metrics) rollup only
    "series_sort_by_total" -> ((s, d) => SeriesOps.seriesSortByTotal(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // newest-point ranking (highestCurrent): max_by over the compacted
    // store, comparison-only
    "series_highest_current" -> ((s, d) => SeriesOps.seriesHighestCurrent(
      s, d, SeriesOps.From, SeriesOps.Until, 3)),
    // quiet-service ranking (lowestAverage): micro-int means, ASC rank
    "series_lowest_average" -> ((s, d) => SeriesOps.seriesLowestAverage(
      s, d, SeriesOps.From, SeriesOps.Until, 3)),
    // newest-point dual (lowestCurrent): max_by pick, rank flipped ASC
    "series_lowest_current" -> ((s, d) => SeriesOps.seriesLowestCurrent(
      s, d, SeriesOps.From, SeriesOps.Until, 3)),
    // peak ranking (highestMax): in-window max per metric, top-3,
    // comparison-only
    "series_highest_max" -> ((s, d) => SeriesOps.seriesHighestMax(
      s, d, SeriesOps.From, SeriesOps.Until, 3)),
    // alive-series denominator (countSeries): per-ts present count on
    // the sparse store, empty slots read 0
    "series_count" -> ((s, d) => SeriesOps.seriesCount(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // gap visualizer (isNonNull): dense grid with a 1/0 null-test flag
    "series_is_nonnull" -> ((s, d) => SeriesOps.seriesIsNonNull(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // sortByName + limit: first-2-by-name metrics emit their grids
    "series_limit" -> ((s, d) => SeriesOps.seriesLimit(
      s, d, SeriesOps.From, SeriesOps.Until, 2)),
    // legend shortener (aliasByNode): rename to the node-1 segment,
    // values copied never computed
    // aliasSub: regex rename with a capture-group backref over every
    // cataloged series — data untouched, metadata-width projection
    "series_alias_sub" -> ((s, d) => SeriesOps.seriesAliasSub(s, d,
      "^events\\.(.*)$", "metrics.$1.rate", SeriesOps.From, SeriesOps.Until)),
    // smartSummarize: from-anchored buckets + ONE requested aggregate
    // (vs series_summarize's step-aligned full readout); registered at
    // func=average with a deliberately grid-unaligned from offset
    "series_smart_summarize" -> ((s, d) => SeriesOps.seriesSmartSummarize(
      s, d, "events.purchase", SeriesOps.From + 1800, SeriesOps.Until,
      14400, "average")),
    // consolidateBy: re-bucket to a POINT BUDGET (≤60 rows here →
    // 3-slot buckets) with the chosen consolidation function
    "series_consolidate_by" -> ((s, d) => SeriesOps.seriesConsolidateBy(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 60, "max")),
    "series_alias_by_node" -> ((s, d) => SeriesOps.seriesAliasByNode(
      s, d, 1, SeriesOps.From, SeriesOps.Until)),
    // fallbackSeries: primary glob matches nothing here, so the
    // fallback series is served (the oracle replays the decision)
    "series_fallback" -> ((s, d) => SeriesOps.seriesFallback(
      s, d, "events.refund*", "events.purchase",
      SeriesOps.From, SeriesOps.Until)),
    // gate + rename indirection (useSeriesAbove): metrics whose window
    // max > 300 fetch their 'click'->'view' regex rewrite instead
    "series_use_series_above" -> ((s, d) => SeriesOps.seriesUseSeriesAbove(
      s, d, 300.0, "click", "view", SeriesOps.From, SeriesOps.Until)),
    // outlier gate (averageOutsidePercentile): nearest-rank band over
    // the per-metric means, band-edge series kept, survivors ride the
    // fetch_pattern read core
    "series_average_outside_percentile" -> ((s, d) =>
      SeriesOps.seriesAverageOutsidePercentile(
        s, d, SeriesOps.From, SeriesOps.Until, 80)),
    // day-over-day overlay (timeStack): one pruned scan joined to the
    // shift-list x grid, values copied never computed
    "series_time_stack" -> ((s, d) => SeriesOps.seriesTimeStack(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 3)),
    // list-form divideSeries: every grid over one divisor series,
    // zero/null divisor nulls the ratio (safeDiv)
    "series_divide_multi" -> ((s, d) => SeriesOps.seriesDivideMulti(
      s, d, "events.view", SeriesOps.From, SeriesOps.Until)),
    // graphite weightedAverage: value series zipped with weight series,
    // per slot sum(a·w)/sum(w) with graphite's exact gap quirks
    "series_weighted_average" -> ((s, d) =>
      SeriesOps.seriesWeightedAverage(s, d,
        Seq("events.purchase", "events.signup"),
        Seq("events.view", "events.click"),
        SeriesOps.From, SeriesOps.Until)),
    // ceiling dual of remove_below_value: spike suppression, dense
    "series_remove_above_value" -> ((s, d) =>
      SeriesOps.seriesRemoveAboveValue(
        s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 85.0)),
    // trough ranking dual of sort_by_maxima
    "series_sort_by_minima" -> ((s, d) => SeriesOps.seriesSortByMinima(
      s, d, SeriesOps.From, SeriesOps.Until)),
    // newest-point gate (currentAbove): last-value threshold on the
    // catalog, survivors ride the fetch_pattern read core
    "series_current_above" -> ((s, d) => SeriesOps.seriesCurrentAbove(
      s, d, SeriesOps.From, SeriesOps.Until, 50.0)),
    // spike / trough selection gates: in-window max > n (dual: min <= n)
    "series_maximum_above" -> ((s, d) => SeriesOps.seriesMaximumAbove(
      s, d, SeriesOps.From, SeriesOps.Until, 300.0)),
    "series_minimum_below" -> ((s, d) => SeriesOps.seriesMinimumBelow(
      s, d, SeriesOps.From, SeriesOps.Until, 1.0)),
    // the comparator duals: floor / ceiling / mean-below / newest-below
    "series_minimum_above" -> ((s, d) => SeriesOps.seriesMinimumAbove(
      s, d, SeriesOps.From, SeriesOps.Until, 1.0)),
    "series_maximum_below" -> ((s, d) => SeriesOps.seriesMaximumBelow(
      s, d, SeriesOps.From, SeriesOps.Until, 300.0)),
    "series_average_below" -> ((s, d) => SeriesOps.seriesAverageBelow(
      s, d, SeriesOps.From, SeriesOps.Until, 85.0)),
    "series_current_below" -> ((s, d) => SeriesOps.seriesCurrentBelow(
      s, d, SeriesOps.From, SeriesOps.Until, 55.0)),
    // sparse-series cleanup: present-slot fraction >= xff keeps the metric
    "series_remove_empty" -> ((s, d) => SeriesOps.seriesRemoveEmpty(
      s, d, SeriesOps.From, SeriesOps.Until, 0.92)),
    // unit conversion (scaleToSeconds): per-hour slots read per-minute
    "series_scale_to_seconds" -> ((s, d) => SeriesOps.seriesScaleToSeconds(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until, 60)),
    // link-function pointwise family: exp/sigmoid/logit/round with
    // graphite's None guards
    "series_nonlinear_math" -> ((s, d) => SeriesOps.seriesNonlinearMath(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // business-hours mask (timeSlice): inner range keeps values, outer
    // grid rows survive as gaps
    "series_time_slice" -> ((s, d) => SeriesOps.seriesTimeSlice(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until,
      SeriesOps.From + 2L * 86400L, SeriesOps.From + 5L * 86400L)),
    // scale/offset/invert/pow/sqrt in one read: single IEEE ops with
    // graphite's None propagation (zero -> null invert, negative ->
    // null sqrt)
    "series_pointwise_math" -> ((s, d) => SeriesOps.seriesPointwiseMath(
      s, d, "events.purchase", SeriesOps.From, SeriesOps.Until,
      2.5, -10.0)),
    // CCNet-style LM gate as a per-doc decision face: integer micro-nat
    // keep cut shared with unigram_logprob
    "perplexity_filter" -> ((s, d) => TextOps.perplexityFilter(
      s, d, 3.41)),
    // holt-winters-style deviation bands: trailing mean ± 2σ from exact
    // integer window sums, aberration flagged on bit-identical doubles
    "series_bands" -> ((s, d) => SeriesOps.seriesBands(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 12, 2.0)),
    "series_integral" -> ((s, d) => SeriesOps.seriesIntegral(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    "series_time_shift" -> ((s, d) => SeriesOps.seriesTimeShift(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 86400L)),
    "series_top_metrics" -> ((s, d) => SeriesOps.seriesTopMetrics(s, d,
      SeriesOps.From, SeriesOps.Until, 3)),
    // exact per-metric p50/p90/p99 over the window via the engine's
    // sort-based quantile core (never value-buffering percentile)
    "series_percentiles" -> ((s, d) => SeriesOps.seriesPercentiles(s, d,
      SeriesOps.From, SeriesOps.Until)),
    // per-metric least-squares trend (linearRegression): all five
    // regression sums are exact integers, one metadata-sized groupBy
    "series_linreg" -> ((s, d) => SeriesOps.seriesLinReg(s, d,
      SeriesOps.From, SeriesOps.Until)),
    // trailing 6-slot sample stddev (stdev): milli-unit integer sums so
    // the SQUARED sums also stay exact in a long
    "series_stdev" -> ((s, d) => SeriesOps.seriesMovingStdev(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 6)),
    // exponentialMovingAverage with α=1/2 truncated at 16 taps: every
    // weight a power of two, so the EWMA is exact integer arithmetic
    "series_ewma" -> ((s, d) => SeriesOps.seriesEwma(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 16)),
    // wide-tap EWMA (taps 25-32, the range the r15 overflow fix removed
    // from the core face): milli-unit integers keep the 32-tap
    // numerator inside Long — still exact in both engines
    "series_ewma_wide" -> ((s, d) => SeriesOps.seriesEwmaWide(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 32)),
    // asPercent: per-slot share of the all-metric total (integer
    // micro-unit slot totals, window partitioned by grid slot)
    "series_as_percent" -> ((s, d) => SeriesOps.seriesAsPercent(s, d,
      SeriesOps.From, SeriesOps.Until)),
    // movingMedian: trailing-6 median via sorted lag-tap arrays (values
    // copied; identical even-count interpolation in both engines)
    "series_moving_median" -> ((s, d) => SeriesOps.seriesMovingMedian(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 6)),
    // removeAbovePercentile: exact sort-based p90 thresholds joined back
    // as an O(#metrics) broadcast; survivors keep their rows
    "series_clip_percentile" -> ((s, d) => SeriesOps.seriesClipPercentile(
      s, d, SeriesOps.From, SeriesOps.Until, 0.9)),
    // groupByNode: wildcard rollup keyed on the metric path's root
    // segment (sumSeries(events.*)) — map-side-combinable (node, ts)
    // micro-unit sums; every slot aggregates all five series
    "series_group_by_node" -> ((s, d) => SeriesOps.seriesGroupByNode(
      s, d, 0, SeriesOps.From, SeriesOps.Until)),
    // groupByNodes(avg, 1, 0): multi-node key in caller order
    // ("purchase.events"), per-cell micro-int means
    "series_group_by_nodes" -> ((s, d) => SeriesOps.seriesGroupByNodes(
      s, d, Seq(1, 0), SeriesOps.From, SeriesOps.Until)),
    // divideSeries: per-slot purchase/view ratio on the joined grids —
    // the conversion-rate overlay; null on gaps and zero divisors
    "series_divide" -> ((s, d) => SeriesOps.seriesDivide(s, d,
      "events.purchase", "events.view", SeriesOps.From, SeriesOps.Until)),
    // Pearson r between two metric grids: five exact decimal moment sums
    // (micro-unit products overflow a long), one closing double sequence
    "series_correlation" -> ((s, d) => SeriesOps.seriesCorrelation(s, d,
      "events.purchase", "events.view", SeriesOps.From, SeriesOps.Until)),
    // integralByInterval: the running total resetting each 4h bucket —
    // window partitions shrink, so it parallelizes BETTER than integral
    "series_integral_by_interval" ->
      ((s, d) => SeriesOps.seriesIntegralByInterval(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 14400L)),
    // trailing-6-slot z-score with the current slot EXCLUDED from its own
    // baseline: integer milli-unit window sums, one closing expression
    "series_zscore" -> ((s, d) => SeriesOps.seriesZscore(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 6, 2.0)),
    // Theil–Sen: median of O(window²) pairwise slopes — robust trend;
    // slopes from exact integer deltas, median an order statistic
    "series_theil_sen" -> ((s, d) => SeriesOps.seriesTheilSen(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // sample ACF per lag 1..48: decimal moment sums keyed on the lag of
    // an O(maxLag) broadcast lag table — the rhythm-strength read
    "series_autocorrelation" ->
      ((s, d) => SeriesOps.seriesAutocorrelation(s, d,
        "events.view", SeriesOps.From, SeriesOps.Until, 48)),
    // offline CUSUM: integer n·vm−total running sum, |S|-argmax slot
    // flagged — one grid, two O(1)-row broadcasts
    "series_changepoint" -> ((s, d) => SeriesOps.seriesChangepoint(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until)),
    // modified z-score: exact doubled-integer median/MAD order stats,
    // one closing double expression per slot
    "series_outlier_mad" -> ((s, d) => SeriesOps.seriesOutlierMad(s, d,
      "events.view", SeriesOps.From, SeriesOps.Until, 3.5)),
    // Holt-Winters one-step forecast: a sequential recursion with no
    // window decomposition — one native-expression pass per series
    // (parallelism axis = metrics), bit-reproduced by a recursive CTE
    "series_holt_winters" -> ((s, d) => SeriesOps.seriesHoltWinters(s, d,
      "events.purchase", SeriesOps.From, SeriesOps.Until, 24)),
    // every cataloged metric forecast in ONE query: per-metric grids,
    // per-metric expression calls — the parallelism-axis-is-metrics
    // claim on the oracle path
    "series_holt_winters_multi" ->
      ((s, d) => SeriesOps.seriesHoltWintersMulti(s, d,
        SeriesOps.From, SeriesOps.Until, 24)),
    // forecast QA: integer micro-unit MAE/WAPE of the multi forecasts
    "series_forecast_error" ->
      ((s, d) => SeriesOps.seriesForecastError(s, d,
        SeriesOps.From, SeriesOps.Until, 24)),
    // confidence bands + aberration from the SAME walk's (forecast,
    // prior deviation) structs — one expression call, one state
    "series_holt_winters_bands" ->
      ((s, d) => SeriesOps.seriesHoltWintersBands(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 3.0)),
    // STL-lite seasonal decomposition: integer micro-unit trend window,
    // re-quantized detrended values, O(season) broadcast seasonal join
    "series_seasonal_decompose" ->
      ((s, d) => SeriesOps.seriesSeasonalDecompose(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12)),
    // seasonal-aware anomaly: z on the decompose residuals (milli
    // moment sums — the stdev overflow bound), rhythm never flagged
    "series_anomaly_stl" ->
      ((s, d) => SeriesOps.seriesAnomalyStl(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12, 3.0)),
    // trend/seasonal STRENGTH: integer (n·s2 − s1²) variance ratios of
    // the decompose components, one row
    "series_stl_strength" ->
      ((s, d) => SeriesOps.seriesStlStrength(s, d,
        "events.purchase", SeriesOps.From, SeriesOps.Until, 24, 12)),
    // linear interior-gap fill between ignore-null struct neighbors;
    // leading/trailing gaps stay null, filled slots flagged
    "series_interpolate" -> ((s, d) => SeriesOps.seriesInterpolate(s, d,
      "events.error", SeriesOps.From, SeriesOps.Until)),
    "has_data_interval" -> ((s, d) => SeriesOps.hasDataInterval(s, d,
      "events.error", SeriesOps.From, SeriesOps.Until)),
    // the render path: every glob match on its own dense grid in one
    // frame — metadata-resolved matches, one window-filtered scan
    "fetch_pattern" -> ((s, d) => SeriesOps.fetchPattern(s, d,
      "events.*", SeriesOps.From, SeriesOps.Until)),
    // multi-resolution reads: same window over the mixed-step store, so the
    // reconcile aggregates three days of coarse history + five of fine data
    // onto the coarsest step (sum for purchase, average for view)
    "fetch_range_multires" -> ((s, d) => SeriesOps.fetchRangeFrom(
      SeriesOps.multiresStore(s, d), graft.core.Catalog.metricsMeta(s),
      "events.purchase", SeriesOps.From, SeriesOps.Until)
      .withColumn("value", q6(col("value")))),
    "densify_grid_multires" -> ((s, d) => SeriesOps.densifyGridFrom(
      SeriesOps.multiresStore(s, d), graft.core.Catalog.metricsMeta(s),
      "events.view", SeriesOps.From, SeriesOps.Until)
      .withColumn("value", q6(col("value")))),
    // 'last' dispatch (max_by — the order-dependent method) through the
    // same reconcile
    "fetch_range_multires_last" -> ((s, d) => SeriesOps.fetchRangeFrom(
      SeriesOps.multiresStore(s, d), graft.core.Catalog.metricsMeta(s),
      "events.signup", SeriesOps.From, SeriesOps.Until)
      .withColumn("value", q6(col("value")))),
    // —— §2.3 aggregations ——
    "agg_average" -> ((s, d) => SeriesOps.aggRange(s, d, "average")),
    "agg_sum" -> ((s, d) => SeriesOps.aggRange(s, d, "sum")),
    "agg_min" -> ((s, d) => SeriesOps.aggRange(s, d, "min")),
    "agg_max" -> ((s, d) => SeriesOps.aggRange(s, d, "max")),
    "agg_last" -> ((s, d) => SeriesOps.aggRange(s, d, "last")),
    "aggregate_series" -> ((s, d) => SeriesOps.aggregateSeriesDf(s, d,
      "events.click", "average", 14400L)),
    // —— §2.4 merge ——
    "merge_series" -> ((s, d) => SeriesOps.mergeSeries(s, d,
      "events.click", "events.view", SeriesOps.From, SeriesOps.Until)),
    // —— §2.6 write path (batch shape) ——
    "compact_dedup" -> ((s, d) => SeriesOps.compactDedup(s, d)),
    "store_write" -> ((s, d) => SeriesOps.storeWriteRuns(s, d)),
    // —— §2.7 maintenance ——
    // tier pair comes from metrics_meta.retentions (finest -> next), as the
    // maintenance driver does; the collect is O(#retention-configs) metadata
    "xff_rollup" -> ((s, d) => {
      val tiers = graft.streaming.Maintenance.tiersFromMeta(
        graft.core.Catalog.metricsMeta(s))
      SeriesOps.xffRollup(s, d, tiers(0).precision, tiers(1).precision)
    }),
    "retention_delete" -> ((s, d) => SeriesOps.retentionDelete(s, d, 1705276800L)),
    // rollup dry-run: per metric, windows the xff gate would emit vs
    // suppress and the row-reduction factor — capacity planning
    "rollup_plan" -> ((s, d) => SeriesOps.rollupPlan(s, d, 3600L, 86400L)),
    // the FULL maintenance cascade, non-degenerate at every stage: with
    // now = 2024-01-31 00:00 over the Jan-2024 hourly catalog and tiers
    // (1h x 72, 1d x 7, 1w x 1), the hourly tail stays, Jan 21-27 rolls
    // to daily, older daily history rolls AGAIN to weekly (tier-1 output
    // feeding tier 2 — the sequential in-order plugin pass), and the
    // weekly band expires one full week; xff gates fire on the partial
    // lead/tail weeks. Band literals derive from Maintenance.bands (pure).
    "maintenance_cascade" -> ((s, d) => {
      import graft.streaming.Maintenance.Tier
      graft.streaming.Maintenance.maintain(
          graft.core.Catalog.pointsCached(s, d),
          graft.core.Catalog.metricsMeta(s),
          CascadeNow, CascadeTiers)
        .withColumn("value", q6(col("value")))
        .orderBy("metric", "step", "ts")
    }),
    // per-node maintenance over a TWO-LADDER catalog: metrics are grouped
    // by their own retention config (the reference's rollup.py node_found
    // is per-node by construction) and each group runs its own band
    // cascade — maintenance_cascade proves only the homogeneous path
    "maintenance_per_node" -> ((s, d) => graft.streaming.Maintenance
      .maintainPerNode(graft.core.Catalog.pointsCached(s, d),
        perNodeMeta(s), CascadeNow)
      .withColumn("value", q6(col("value")))
      .orderBy("metric", "step", "ts")),
    // bin/slicecheck analog over the mixed-step store (all-zero = healthy;
    // the suite proves detection on a corrupted fixture)
    "store_check" -> ((s, d) => SeriesOps.storeCheck(SeriesOps.multiresStore(s, d))),
    // —— §2.9 dedup family ——
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "dedup_norm" -> ((s, d) => TextOps.dedupNorm(s, d)),
    // finite maxDf: the benched plan is the skew-capped one you'd run at
    // 100 TB (hot boilerplate shingles pruned from CANDIDATE GENERATION
    // only — emitted pairs are identical, parity-tested in the suite)
    "dedup_jaccard" -> ((s, d) => TextOps.dedupJaccard(s, d, 0.9, maxDf = 64L)),
    // directed containment |A∩B|/|A| over the SAME cached capped pair
    // stream — catches subset/quote near-dups jaccard structurally misses
    "dedup_containment" ->
      ((s, d) => TextOps.containmentPairs(s, d, 0.8, maxDf = 64L)),
    // tf-idf cosine over the df≤64 distinctive vocabulary: integer
    // micro-unit weights, decimal dot/norm sums, bounded inverted-index
    // fan-out — the topical-similarity complement of the shingle family
    "tfidf_pairs" ->
      ((s, d) => TextOps.tfidfPairs(s, d, 0.3, maxDf = 64L)),
    // Heaps'-law growth curve: first-seen-doc trick makes cumulative
    // vocabulary two map-side-combinable aggs + an O(points) broadcast
    "vocab_growth" -> ((s, d) => TextOps.vocabGrowth(s, d, 10)),
    // per-doc top-3 tf-idf keyphrases: integer micro-unit weights rank
    // (no float ties), per-doc rank windows over the cached counts
    "doc_keyphrases" -> ((s, d) => TextOps.docKeyphrases(s, d, 3)),
    // the index face scores the persisted word counts — same definition
    "index_doc_keyphrases" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedDocKeyphrases(s, d, 3)),
    // adjacent-bigram PMI collocations: linear in the corpus (no pair
    // join), integer micro-nat quantization before ranking
    "token_pmi_pairs" ->
      ((s, d) => TextOps.tokenPmiPairs(s, d, 5, 20)),
    "dedup_minhash_lsh" -> ((s, d) => TextOps.dedupMinhashLsh(s, d, 0.9)),
    "dedup_incremental" -> ((s, d) => TextOps.dedupIncremental(s, d, 0.9)),
    "index_dedup_incremental" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedDedupIncremental(s, d, 0.9)),
    "dedup_incremental_stats" ->
      ((s, d) => TextOps.dedupIncrementalStats(s, d, 0.9)),
    "batch_vocab_drift" -> ((s, d) => TextOps.batchVocabDrift(s, d)),
    "index_batch_vocab_drift" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedBatchVocabDrift(s, d)),
    // the SAME pairs served from the incrementally-built feature index
    // (two parity-split batches + compaction) — the 100 TB dedup read
    // path, proven against the identical oracle as dedup_minhash_lsh
    "index_minhash_pairs" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedMinhashPairs(s, d, 0.9)),
    "dedup_clusters" -> ((s, d) => TextOps.dedupClusters(s, d, 0.9)),
    // dup-family size histogram off the same cached label table —
    // integer bin() buckets, O(#clusters) rollup
    "dedup_cluster_sizes" ->
      ((s, d) => TextOps.dedupClusterSizes(s, d, 0.9)),
    // shingle df skew histogram — the evidence behind the maxDf cap
    "shingle_df_hist" -> ((s, d) => TextOps.shingleDfHist(s, d)),
    // the apply stage: the kept corpus after near-dup keeper selection
    // (shares the session-cached component labels with dedup_clusters)
    "dedup_apply" -> ((s, d) => TextOps.dedupApply(s, d, 0.9)),
    "dedup_simhash" -> ((s, d) => TextOps.dedupSimhash(s, d, 3)),
    // signature-estimated vs exact jaccard per verified pair — the
    // estimator-fidelity audit band/row configs are tuned against
    "minhash_est_error" -> ((s, d) => TextOps.minhashEstError(s, d, 0.9)),
    // lexical-vs-semantic dedup agreement: the (in_text, in_embed)
    // membership matrix over both verified near-dup pair sets
    "dedup_agreement" -> ((s, d) => TextOps.dedupAgreement(s, d, 0.9, 0.4)),
    // the SAME pairs served from the doc index's persisted fingerprint
    // table — the third index table's read path, on dedup_simhash's oracle
    "index_simhash_pairs" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedSimhashPairs(s, d, 3)),
    // index-completeness audit: per-table row counts of the persisted
    // doc + embedding indexes vs corpus-derived expected counts
    "index_stats" ->
      ((s, d) => graft.streaming.FeatureIndex.indexStats(s, d)),
    // vocabulary top-k served from the doc index's persisted word-count
    // table — the fourth index table's read path, on top_terms' oracle
    "index_top_terms" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedTopTerms(s, d, 20)),
    // BM25 served from the same persisted word-count index table — the
    // retrieval read path that never touches document text
    "index_bm25_search" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedBm25Search(s, d)),
    // tf-idf cosine pairs from the index word counts — one scoring
    // definition with the session face, same oracle verbatim
    "index_tfidf_pairs" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedTfidfPairs(s, d)),
    // the rule gate and KL drift served from the index word counts with
    // source joined from doc metadata — same definitions, same oracles
    "index_gopher_rules" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedGopherRules(s, d)),
    "index_source_kl" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedSourceKl(s, d)),
    // tokenizer-training reads off the index word counts: merge table,
    // char coverage (bit-identical to the raw-text scan by the
    // tokens-joined-by-spaces identity), CCNet terciles with lang
    // joined from doc metadata — same definitions, same oracles
    "index_bpe_merge_candidates" ->
      ((s, d) => graft.streaming.FeatureIndex
        .indexedBpeMergeCandidates(s, d, 20)),
    "index_bpe_train_rounds" ->
      ((s, d) => graft.streaming.FeatureIndex
        .indexedBpeTrainRounds(s, d, 3)),
    "index_char_coverage" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedCharCoverage(s, d, 20)),
    "index_ccnet_buckets" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedCcnetBuckets(s, d)),
    // the keep/drop gate served from the SAME persisted doc_ccnet score
    // table — a 100 TB rewrite job never re-pays the vocab join
    "index_perplexity_filter" ->
      ((s, d) => graft.streaming.FeatureIndex
        .indexedPerplexityFilter(s, d, 3.41)),
    // the apply face of pii_stats: typed-placeholder redaction, pinned
    // by match counts + the md5 of the redacted text (no corpus text in
    // the result set)
    "pii_redact" -> ((s, d) => TextOps.piiRedact(s, d)),
    "train_split" -> ((s, d) => TextOps.trainSplit(s, d)),
    // training-output shard balance audit: stable md5-bucket shard per
    // doc, per-shard doc/char/source rollup — no corpus shuffle
    "shard_assign" -> ((s, d) => TextOps.shardAssign(s, d, 8)),
    "contamination" -> ((s, d) => TextOps.contamination(s, d, 0.9)),
    // the same leak scan rolled up to the (source, source) matrix
    "contamination_matrix" ->
      ((s, d) => TextOps.contaminationMatrix(s, d, 0.9)),
    // —— §2.9 text analysis ——
    "text_stats" -> ((s, d) => TextOps.textStats(s, d)),
    // per-source PII observability: three codegen regexp counters, one
    // map-side-combinable aggregation, no text shuffle
    "pii_stats" -> ((s, d) => TextOps.piiStats(s, d)),
    "token_count" -> ((s, d) => TextOps.tokenCount(s, d)),
    "lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "quality_score" -> ((s, d) => TextOps.qualityScore(s, d)),
    // corpus-unigram LM scoring (the CCNet-filter shape): mean token
    // NLL per doc under the corpus's own unigram model, avg per source
    "unigram_logprob" -> ((s, d) => TextOps.unigramLogprob(s, d)),
    // joint-bigram LM surprisal: 8-byte rolling gram ids, O(|bigram
    // vocab|) count table, integer micro-nat per-doc scores
    "bigram_logprob" -> ((s, d) => TextOps.bigramLogprob(s, d)),
    // per-source KL from the corpus unigram mix in integer micro-nats,
    // all off the cached word-count feature table
    "source_kl" -> ((s, d) => TextOps.sourceKl(s, d)),
    // Gopher rule gate per source: all four rules off the cached
    // word-count table, ratio rules by integer cross-multiplication
    "gopher_rules" -> ((s, d) => TextOps.gopherRules(s, d)),
    // DSIR importance weights: target-vs-raw hashed-unigram log-ratios
    // from a constant nBuckets-row model (metadata broadcast), scored as
    // one doc-keyed rollup of the shared word-count feature table
    "dsir_weights" -> ((s, d) =>
      TextOps.dsirWeights(s, d, Seq("src0", "src1", "src2"))),
    // RAG/training chunking: 64-word windows every 48 words, md5
    // fingerprint per chunk — one scan, output-sized fan-out, no shuffle
    "chunk_documents" -> ((s, d) => TextOps.chunkDocuments(s, d, 64, 48)),
    // within-doc word entropy (word-diversity quality axis), per source
    "doc_entropy" -> ((s, d) => TextOps.docEntropy(s, d)),
    // GPT-3-style 13-gram decontamination scan: non-benchmark docs
    // sharing a verbatim 13-gram with any benchmark-source doc
    "contamination_ngram" ->
      ((s, d) => TextOps.contaminationNgram(s, d, Seq("src12", "src18"), 13)),
    "contamination_para" ->
      ((s, d) => TextOps.contaminationPara(s, d, Seq("src12", "src18"))),
    // bloom-filter decontamination pre-screen + exact audit: set-bits
    // table is <= kHash*m rows regardless of benchmark size, broadcast
    // onto the shingle probes; no-false-negative contract oracle-checked
    "contamination_bloom" -> ((s, d) => TextOps.contaminationBloom(
      s, d, Seq("src12", "src18"), 3, 8192)),
    // count-min sketch audit: depth x width fixed-memory token-frequency
    // sketch probed at the exact top-k so estimate >= exact is visible.
    // width 16 < the fixture's 31-token vocabulary, so the COLLISION
    // path (overcount > 0) is exercised, not just the exclusive-cell
    // identity — at width 512 the audit is vacuously exact here
    "sketch_cms_topk" -> ((s, d) => TextOps.sketchCmsTopk(s, d, 4, 16, 20)),
    // count-sketch (r18): the TWO-SIDED unbiased twin — signed cells
    // (colliding tokens cancel instead of inflating), estimate = exact
    // integer MEDIAN of 5 signed row reads (odd depth: the median is an
    // element, never an interpolation); error is signed where CMS's
    // overcount is provably >= 0, and width 16 keeps both signs live
    "sketch_countsketch" -> ((s, d) =>
      TextOps.sketchCountSketch(s, d, 5, 16, 20)),
    // mergeable quantile-sample sketch audit (r17): hash-gated uniform
    // sample (kept iff md5 bucket ≡ 0 mod 4 — the bottom-k/subsampling
    // ladder, KLL's deterministic sibling) whose order stats estimate
    // the corpus quantiles; sample membership + both interpolated
    // quantile chains are exact and hash-oracled, the rank-error bound
    // is the driver-side spec's claim
    "sketch_quantile_sample" -> ((s, d) =>
      TextOps.sketchQuantileSample(s, d, 4)),
    // KLL compactor hierarchy (r18): per-level retained contents of a
    // deterministic flush-in-full even-keep schedule (binary-counter
    // cascade — relational, no sequential fold); rank-error bound is
    // the driver-side spec's claim
    "sketch_kll_levels" -> ((s, d) =>
      TextOps.sketchKllLevels(s, d, 64, 12)),
    // the consumer readout of the KLL state: inverse-CDF rank picks on
    // the weight-cumulative retained items vs the raw lengths — exact
    // integer rank targets, no interpolation, shared cascade build
    "sketch_kll_quantiles" -> ((s, d) =>
      TextOps.sketchKllQuantiles(s, d, 64, 12)),
    "index_contamination_para" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedContaminationPara(
        s, d, Seq("src12", "src18"))),
    // near-dup pairs straddling train/val/test — the eval-integrity
    // audit a doc-level random split needs (capped jaccard plan)
    "split_leakage" -> ((s, d) => TextOps.splitLeakage(s, d, 0.9)),
    // the decontamination APPLY: the training corpus minus benchmark
    // sources and their cross-source near-dups (leak-sized anti-join).
    // src12/src18 are chosen because they DO leak at the verify SFs
    // (cross-source near-dup partners exist), so the oracle exercises
    // the anti-join path, not just the source-exclusion predicate
    "contamination_apply" -> ((s, d) =>
      TextOps.contaminationApply(s, d, Seq("src12", "src18"), 0.9)),
    // decile histogram of the SAME per-doc score — quality drift per
    // source, readable before the 0.8 gate changes quality_apply's yield
    "quality_histogram" -> ((s, d) => TextOps.qualityHistogram(s, d)),
    // what dedup_apply would delete, per source — the effective-token
    // input to mixing decisions (reuses the cached component labels)
    "dedup_rate_by_source" ->
      ((s, d) => TextOps.dedupRateBySource(s, d, 0.9)),
    // exact per-source length quantiles via sort-based ranks (spillable
    // at any group size — never Spark's value-buffering percentile())
    "doc_length_quantiles" -> ((s, d) => TextOps.docLengthQuantiles(s, d)),
    // Gopher/C4-style intra-doc repetition signal (shares the shingle
    // machinery) and the deterministic source-mixing downsample
    "doc_repetition" -> ((s, d) => TextOps.docRepetition(s, d)),
    // cross-doc duplicated 3-gram span mass per source — the
    // substring-dedup decision input (reads the shared shingle table)
    "span_dup_stats" -> ((s, d) => TextOps.spanDupStats(s, d)),
    "para_dup_stats" -> ((s, d) => TextOps.paraDupStats(s, d)),
    "index_para_dup_stats" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedParaDupStats(s, d)),
    "para_dedup_apply" -> ((s, d) => TextOps.paraDedupApply(s, d)),
    "para_dup_top" -> ((s, d) => TextOps.paraDupTop(s, d, 15)),
    "para_dedup_incremental" ->
      ((s, d) => TextOps.paraDedupIncremental(s, d, 0.5)),
    "bpe_fertility" -> ((s, d) => TextOps.bpeFertility(s, d, 10)),
    // the span-dedup APPLY: drop docs whose corpus-duplicated distinct
    // 3-gram share exceeds 0.5 (exact copies score 1.0)
    "span_dedup_apply" -> ((s, d) => TextOps.spanDedupApply(s, d, 0.5)),
    // the actual span REWRITE proven by digest (r18): per affected doc,
    // md5 of the text with corpus-duplicated 13-gram runs excised —
    // position-set union of df>=2 gram covers, codegen filter rebuild
    "span_excise" -> ((s, d) => TextOps.spanExcise(s, d, 13)),
    // the per-source rewrite-mass readout of that excision (docs
    // touched, word mass removed — the approval number for a rewrite)
    "span_excise_stats" -> ((s, d) => TextOps.spanExciseStats(s, d, 13)),
    "source_cap_sample" -> ((s, d) => TextOps.sourceCapSample(s, d, 30)),
    // source-mixture re-weighting toward a uniform per-source target,
    // capped at 3 effective epochs — the dataloader's sampling-weight table
    "mix_weights" -> ((s, d) => TextOps.mixWeights(s, d, 3.0)),
    // temperature-scaled mixing (r18, XLM-R/mT5 p ∝ n^α at α=1/2):
    // tempered weight = floor(sqrt(n_tokens)) — exact in both engines
    // (IEEE sqrt is correctly rounded, unlike ln) — plus integer-div
    // quotas under α=1 and α=1/2 so the flattening is oracle-visible
    "mix_temperature" -> ((s, d) => TextOps.mixTemperature(s, d, 1000000L)),
    // priority sampling (r18, Duffield-Lund-Thorup): doc-level weighted
    // sample-without-replacement — priority = (w·2^32) div (u+1) over
    // the stable md5 bucket, pure BIGINT (no rand, no floats); top-k
    // via TakeOrdered, HT threshold tau emitted for the consumer
    "sample_weighted" -> ((s, d) => TextOps.sampleWeighted(s, d, 64)),
    "doc_fingerprint" -> ((s, d) => TextOps.docFingerprint(s, d)),
    // winnowed (MOSS) fingerprint sharing — the guaranteed-coverage
    // substring-copy index at ~2/(win+1) of the positions
    "winnow_fingerprint" -> ((s, d) => TextOps.winnowFingerprint(s, d, 5, 4)),
    // the actionable face of the winnow index: doc pairs sharing >= 2
    // rare (df-capped) fingerprints — the copied-span candidate pairs
    "winnow_pairs" -> ((s, d) => TextOps.winnowPairs(s, d, 5, 4, 2, 64)),
    // the quality-filter APPLY stage: the kept corpus after the
    // C4/Gopher-style score + length + repetition gates
    "quality_apply" -> ((s, d) => TextOps.qualityApply(s, d, 0.8, 150, 0.02)),
    // sequence-packing planner: shard-parallel concat-and-split chunking
    // of the corpus into fixed token-budget training sequences
    "pack_sequences" -> ((s, d) => TextOps.packSequences(s, d, 2048, 8)),
    "pack_sequences_bpe" ->
      ((s, d) => TextOps.packSequencesBpe(s, d, 2048, 8, 10)),
    "pack_efficiency_bpe" ->
      ((s, d) => TextOps.packEfficiencyBpe(s, d, 2048, 8, 10)),
    // the packer's per-shard utilization: chunk count + fill ratio
    // (1 - fill = the padding waste a trainer pays per shard)
    "pack_efficiency" -> ((s, d) => TextOps.packEfficiency(s, d, 2048, 8)),
    "top_terms" -> ((s, d) => TextOps.topTerms(s, d, 20)),
    // one-row corpus vocabulary health: |V|, token mass, hapax count +
    // share, type-token ratio (all exact integers off the shared table)
    "vocab_stats" -> ((s, d) => TextOps.vocabStats(s, d)),
    // Zipf-law fit over the top-100 vocabulary: corpus-level
    // distributional quality (slope ≈ −1 for natural text)
    "vocab_zipf" -> ((s, d) => TextOps.vocabZipf(s, d, 100)),
    // tokenizer-training reads: BPE first-round merge candidates over
    // the word vocabulary, and the SentencePiece character-coverage
    // table (top chars + cumulative share, spaces excluded)
    "bpe_merge_candidates" ->
      ((s, d) => TextOps.bpeMergeCandidates(s, d, 20)),
    // the actual Sennrich training LOOP, 3 merge rounds unrolled: each
    // round's argmax pair applied greedily to the symbolized vocab
    // before the next round counts — plus the resulting subword
    // inventory (what the unit table looks like mid-training)
    "bpe_train_rounds" -> ((s, d) => TextOps.bpeTrainRounds(s, d, 3)),
    // the DEEP trained face (r16): same Sennrich loop at 10 merges —
    // the oracle unroll is generated, so depth is a parameter, not a
    // hand-written CTE chain; r17: the apply/fertility/packing family
    // now CONSUMES this depth (the `bpe_words:…:10` frozen codebook) —
    // one training serving every downstream face
    "bpe_train_deep" -> ((s, d) => TextOps.bpeTrainRounds(s, d, 10)),
    "bpe_vocab_after" -> ((s, d) => TextOps.bpeVocabAfter(s, d, 10, 20)),
    // train -> APPLY: per-doc word + subword counts at the current
    // merge state (the sequence-packing budget table)
    "bpe_apply" -> ((s, d) => TextOps.bpeApply(s, d, 10)),
    "index_bpe_apply" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedBpeApply(s, d, 10)),
    // the OTHER mainstream subword trainer (r18): Kudo/SentencePiece
    // unigram-LM via deterministic Viterbi-EM — seed = chars + top-24
    // substrings (len <= 4), 2 hard-EM rounds, exact-integer usage +
    // quantized micro-nat costs per round (the nllu discipline)
    "unigram_lm_train" -> ((s, d) => TextOps.unigramLmTrain(s, d, 24, 2)),
    // Viterbi apply at the frozen trained costs: per-doc word/piece
    // counts, every distinct word segmented once (never per occurrence)
    "unigram_lm_apply" -> ((s, d) => TextOps.unigramLmApply(s, d, 24, 2)),
    // the unigram trainer/apply served from the ingest-maintained
    // word-count index — tokenizer training never re-tokenizes the
    // corpus (the indexed BPE contract for the other subword family)
    "index_unigram_lm_train" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedUnigramLmTrain(s, d, 24, 2)),
    "index_unigram_lm_apply" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedUnigramLmApply(s, d, 24, 2)),
    // per-source piece inflation at the frozen unigram state (the
    // bpe_fertility twin; shared per-word segmentation, O(#sources))
    "unigram_fertility" -> ((s, d) =>
      TextOps.unigramFertility(s, d, 24, 2)),
    // per-doc LM score at the frozen trained unigram vocab (r18) — the
    // CCNet quality role played by the TRAINED subword LM: total and
    // mean Viterbi path cost in integer micro-nats, shared per-word
    // segmentation (the corpus is never re-segmented per doc)
    "unigram_lm_score" -> ((s, d) =>
      TextOps.unigramLmScore(s, d, 24, 2)),
    // the score face served from the ingest-maintained word-count index
    // (the train/apply twins' discipline: one definition, one oracle)
    "index_unigram_lm_score" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedUnigramLmScore(s, d, 24, 2)),
    "char_coverage" -> ((s, d) => TextOps.charCoverage(s, d, 20)),
    // CCNet head/middle/tail perplexity terciles per language — the
    // keep/sample/drop partition, off the shared word-count table
    "ccnet_buckets" -> ((s, d) => TextOps.ccnetBuckets(s, d)),
    // Gopher stopword-ratio rule with a corpus-derived (top-20) list —
    // the broadcast side is k rows by construction
    "stopword_stats" -> ((s, d) => TextOps.stopwordStats(s, d, 20)),
    // the signature-term view (tf·ln(N/df)) next to top_terms' stopword view
    "tfidf_terms" -> ((s, d) => TextOps.tfidfTerms(s, d, 20)),
    // group-wise top-k (rank-filter window): per-language vocabulary
    "top_terms_by_lang" -> ((s, d) => TextOps.topTermsByLang(s, d, 5)),
    // BM25 ranked retrieval off the shared word-count index (postings
    // filter + metadata-sized df/N/avgdl broadcasts + TakeOrdered)
    "bm25_search" -> ((s, d) => TextOps.bm25Search(s, d)),
    // inter-document novelty: share of (doc, shingle) occurrences unique
    // corpus-wide, micro-averaged per source off the cached shingle table
    "doc_novelty" -> ((s, d) => TextOps.docNovelty(s, d)),
    // pairwise source shingle-set jaccard: the corpus-composition audit
    // feeding mixture design (vocabulary-bounded, sources² output)
    "source_similarity" -> ((s, d) => TextOps.sourceSimilarity(s, d)),
    // stage-by-stage survivor counts of quality_apply's exact gate
    // cascade — one aggregation row unpivoted via stack
    "quality_funnel" -> ((s, d) => TextOps.qualityFunnel(s, d)),
    // lang-ID confidence per source: the same md5 votes as lang_id,
    // micro-averaged (exact integer vote sums, one division)
    "lang_id_margin" -> ((s, d) => TextOps.langIdMargin(s, d)),
    // —— §2.9 similarity search ——
    "cosine_topk" -> ((s, d) => VectorOps.cosineTopk(s, d, 0, 10)),
    // MIPS: unnormalized dot-product retrieval — broadcast query vector,
    // one codegen scan, TakeOrdered
    "mips_topk" -> ((s, d) => VectorOps.mipsTopk(s, d, 0, 10)),
    // MMR diversified retrieval: distributed pool + pairwise micro-int
    // sims, greedy selection over O(pool²) collected metadata
    "mmr_topk" -> ((s, d) => VectorOps.mmrTopk(s, d, 0, 5, 50)),
    // LSH graph-density observability: candidate-degree log2 histogram
    // (isolated vectors in bucket −1) — tunes (tables, bits)
    "embed_knn_degree_hist" ->
      ((s, d) => VectorOps.embedKnnDegreeHist(s, d, 16, 6)),
    "knn_label_count" -> ((s, d) => VectorOps.knnLabelCount(s, d, 0, 50)),
    // LSH candidates + exact-cosine verify — the 100 TB pair plans; the
    // all-pairs exact forms remain as test baselines only
    "embed_topk_pairs" -> ((s, d) => VectorOps.embedTopkPairsLsh(s, d, 20)),
    "embed_neardup" -> ((s, d) => VectorOps.embedNearDupLsh(s, d, 0.4)),
    "embed_dedup_incremental" ->
      ((s, d) => VectorOps.embedDedupIncremental(s, d, 0.4)),
    // the vector-side PRODUCTION admission join (r17): candidates for
    // the arriving batch served from the persisted emb_buckets index,
    // right side restricted to new vectors (work ∝ batch) — same
    // verdicts, same oracle as the session relabeling face
    "index_embed_dedup_incremental" ->
      ((s, d) => graft.streaming.FeatureIndex
        .indexedEmbedDedupIncremental(s, d, 0.4)),
    "embed_dedup_incremental_stats" ->
      ((s, d) => VectorOps.embedDedupIncrementalStats(s, d, 0.4)),
    // threshold-calibration sweep: ONE LSH candidate+verify pass, one
    // conditional-sum aggregation unpivoted to a row per threshold
    "embed_threshold_sweep" ->
      ((s, d) => VectorOps.embedThresholdSweep(s, d)),
    // SemDeDup: cluster-scoped exact near-dup pairs over the SAME cached
    // IVF assignment the ANN queries probe — pairwise work bounded per
    // cell, never corpus-wide (the published recipe's plan shape)
    "semdedup" -> ((s, d) => VectorOps.semDedup(s, d, 16, 0.4)),
    // radius search: the full similarity band, filter-only (no sort) on
    // the same broadcast-query scan contract as cosine_topk
    "ann_range_search" ->
      ((s, d) => VectorOps.annRangeSearch(s, d, 0, 0.25)),
    "embed_clusters" -> ((s, d) => VectorOps.embedClusters(s, d, 0.4)),
    // the vector-side apply stage (shares the cached labels with
    // embed_clusters)
    "embed_apply" -> ((s, d) => VectorOps.embedApply(s, d, 0.4)),
    "ann_lsh_topk" -> ((s, d) => VectorOps.annLshTopk(s, d, 0, 10)),
    // multiprobe LSH (r18, Lv et al. 2007): probe the bucket + the full
    // Hamming-1 ring on a QUARTER-size index (4 tables vs 16) — probes
    // substitute for tables; recall >= single-probe-at-4 suite-pinned
    "ann_lsh_multiprobe_topk" -> ((s, d) =>
      VectorOps.annLshMultiprobeTopk(s, d, 0, 10, 4, 6, 64)),
    "ann_ivf_topk" -> ((s, d) => VectorOps.annIvfTopk(s, d, 0, 10)),
    // the same ANN top-k answers served from the ingest-built embedding
    // feature index (frozen quantizer + batch-partitioned buckets /
    // assignments) — the vector-side index read path on the same oracles
    "index_ann_lsh_topk" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedAnnLshTopk(s, d, 0, 10)),
    "index_ann_ivf_topk" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedAnnIvfTopk(s, d, 0, 10)),
    // IVF served from the cid-PARTITIONED store layout (candidate I/O is
    // partition-pruned directory reads — the 100 TB read shape, pinned
    // by PlanSpec's PartitionFilters assertion) on the same oracle
    "ann_ivf_topk_store" ->
      ((s, d) => VectorOps.annIvfTopkStoreQuery(s, d, 0, 10)),
    // BATCH-query IVF: top-k for EACH of 5 query vectors in one fully
    // distributed plan (windowed probe sets + rank-filter top-k) — the
    // retrieval-pass serving shape, vs the single-query faces above
    "ann_ivf_batch_topk" ->
      ((s, d) => VectorOps.annIvfBatchTopk(s, d, 5, 10)),
    // the batch ON THE STORE: one partition-pruned scan for the union
    // of all queries' probe cells, per-query assignment via an
    // O(nq×nprobe) broadcast pair table — candidate I/O once per batch
    "ann_ivf_batch_store" ->
      ((s, d) => VectorOps.annIvfBatchStoreQuery(s, d, 5, 10)),
    // the batch serving shape on the LSH path: query bucket signatures
    // join the shared bucket index, shared rank-filter top-k tail
    "ann_lsh_batch_topk" ->
      ((s, d) => VectorOps.annLshBatchTopk(s, d, 5, 10)),
    // quantizer skew observability: per-cell occupancy over the shared
    // cached assignment table
    "ivf_cell_stats" -> ((s, d) => VectorOps.ivfCellStats(s, d)),
    // recall@k of both ANN paths vs the exact top-k — the index-trust
    // observability read before tuning probe/table counts
    "ann_recall" -> ((s, d) => VectorOps.annRecall(s, d, 0, 10)),
    // the IVF tuning CURVE: recall@k per nprobe over one shared
    // assignment table (where it plateaus, extra probes are I/O waste)
    "ann_ivf_recall_sweep" ->
      ((s, d) => VectorOps.annIvfRecallSweep(s, d, 0, 10, Seq(1, 2, 4, 8))),
    // per-dimension embedding moments — the embedding-QA pass before
    // any ANN index build (collapsed/runaway dims break every ranking)
    "embed_dim_stats" -> ((s, d) => VectorOps.embedDimStats(s, d)),
    // top-10 most-correlated dim pairs: the PQ-subspace / quantizer
    // design QA (exact integer moments, bit-stable |corr| ranking)
    "embed_covariance" -> ((s, d) => VectorOps.embedCovariance(s, d, 10)),
    // distributed power iteration on the implicit centered covariance:
    // per-round O(dims) driver collect, exact decimal accumulations,
    // bit-identical direction vs the oracle's unrolled CTE rounds
    "embed_pca_project" -> ((s, d) => VectorOps.embedPcaProject(s, d, 8)),
    // label-centroid geometry: one O(labels x dims) integer rollup, all
    // pairwise work on the metadata-sized centroid table
    "embed_centroid_distances" ->
      ((s, d) => VectorOps.embedCentroidDistances(s, d)),
    // per-label top-3 centroid outliers: exact-integer milli-unit
    // deviation sums (ranks cannot flip on float accumulation order)
    "embed_outliers" -> ((s, d) => VectorOps.embedOutliers(s, d, 3)),
    // product-quantization ANN served from the Lloyd-TRAINED 32×16
    // sub-codebooks (r14 — the codebook a deployment ships: recall 0.60
    // vs the seed's 0.49 at the same code budget), session-cached
    // integer codes table, ADC lookup scoring; full hash oracle (the 4
    // Lloyd rounds unroll as exact-integer CTEs)
    "ann_pq_topk" -> ((s, d) => VectorOps.annPqTopkTrained(s, d, 0, 10)),
    // the deterministic lowest-id 8×16 SEED-codebook face, kept
    // registered (two-face contract: a drift in either training or
    // plumbing shows up as exactly one of the two keys failing)
    "ann_pq_topk_seed" -> ((s, d) => VectorOps.annPqTopk(s, d, 0, 10)),
    // SQ8 ANN: integer-code L2 candidates off the 1-byte/dim codes
    // table, exact milli-L2 rerank on the 30 candidates only
    "ann_sq8_topk" -> ((s, d) => VectorOps.annSq8Topk(s, d, 0, 10, 30)),
    // IVFADC: coarse cells prune candidate I/O, Lloyd-TRAINED PQ codes
    // (r14) price the candidate scoring — the two cached feature tables
    // serving together in the shipped configuration
    "ann_ivfpq_topk" -> ((s, d) => VectorOps.annIvfPqTopk(s, d, 0, 10)),
    // PQ accuracy/compression trade-off vs the exact integer-L2 top-k
    "ann_pq_recall" -> ((s, d) => VectorOps.annPqRecall(s, d, 0, 10)),
    // seed-vs-trained PQ recall in one read, both rows at the same
    // (m=32, ksub=16) code budget so the delta isolates TRAINING.
    // Fully oracle-checked: the 4 Lloyd rounds are exact-integer
    // (milli-grid cells, floor-requantized means) so the DuckDB oracle
    // unrolls them as chained CTEs; the suite additionally pins
    // trained >= seed (10-query mean)
    "ann_pq_recall_trained" ->
      ((s, d) => VectorOps.annPqRecallTrained(s, d, 0, 10)),
    // PQ top-k served from the ingest-maintained codes table + frozen
    // codebook (the steady-state scan never touches float vectors)
    "index_ann_pq_topk" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedAnnPqTopk(s, d, 0, 10)),
    // IVFADC off the durable index alone: frozen quantizer probes,
    // persisted assignments prune, persisted codes + frozen codebook
    // score — four index tables, no corpus-vector reads
    "index_ann_ivfpq_topk" ->
      ((s, d) => graft.streaming.FeatureIndex.indexedAnnIvfPqTopk(s, d, 0, 10)),
    // int8 scalar-quantization reconstruction error per label — the
    // compression-loss QA before shipping quantized vectors to an index
    "embed_quantize_error" -> ((s, d) => VectorOps.embedQuantizeError(s, d)),
    // centroid-based silhouette per label: integer distances, per-vector
    // score re-quantized before the label mean
    "embed_silhouette" -> ((s, d) => VectorOps.embedSilhouette(s, d)),
    // per-label centroid drift between the two ingest-batch parities —
    // the trust gate for frozen quantizers/codebooks across ingests
    "embed_centroid_shift" ->
      ((s, d) => VectorOps.embedCentroidShift(s, d)),
    // the k-means-refined quantizer behind the IDENTICAL IVF plumbing:
    // fully deterministic end-to-end (id-stride sample, milli-quantized
    // exact-integer Lloyd rounds — no RNG, no order-dependent sums), so
    // the oracle unrolls the 3 training rounds as chained CTEs and the
    // result hash-checks; the suite additionally pins recall >= the
    // deterministic quantizer and the sampling contract
    "ann_ivf_topk_kmeans" -> ((s, d) => VectorOps.annIvfTopkKmeans(s, d, 0, 10)),
    // —— §2.9 events ——
    "events_sessionize" -> ((s, d) => EventOps.sessionize(s, d, 3600L)),
    // the skew-safe (user, day)-pre-bucketed plan — the 100 TB whale-user
    // shape, parity-proven on events_sessionize's oracle
    "events_sessionize_bucketed" ->
      ((s, d) => EventOps.sessionizePreBucketed(s, d, 3600L)),
    "json_props" -> ((s, d) => EventOps.jsonProps(s, d)),
    // as-of join: each event tagged with its metric's most recent rollup
    // value at-or-before the event — union-window form and the whale-safe
    // (metric, day)-partitioned form, both against the native ASOF oracle
    "events_asof_value" -> ((s, d) => EventOps.asofValue(s, d)),
    "events_asof_value_bucketed" ->
      ((s, d) => EventOps.asofValueBucketed(s, d)),
    // per-type daily volume z-scores from exact integer window sums —
    // the "did errors spike today" alert read
    "event_anomaly" -> ((s, d) => EventOps.eventAnomaly(s, d, 2.0)),
    // per-type top-5 users by event count — the skew-observability read
    // a salting decision consumes
    "event_heavy_hitters" -> ((s, d) => EventOps.heavyHitters(s, d, 5)),
    // last-touch attribution: one O(n)-per-user running window, never
    // the quadratic purchase x touch as-of join the oracle replays
    "event_attribution" -> ((s, d) => EventOps.eventAttribution(s, d)),
    "funnel_stages" -> ((s, d) => EventOps.funnel(s, d)),
    // windowFunnel: the same cascade under a conversion deadline from
    // the user's FIRST-stage time (here: complete within one day)
    "funnel_windowed" -> ((s, d) => EventOps.funnelWindowed(s, d)),
    // conversion latency between consecutive funnel stages: shares the
    // first-reach cascade with funnel_stages; exact integer-microsecond
    // delta sums, one closing division per pair
    "funnel_time_to_convert" ->
      ((s, d) => EventOps.funnelTimeToConvert(s, d)),
    // session-shape histogram: n_events-capped buckets over sessionize's
    // output with exact integer duration sums
    "session_stats" -> ((s, d) => EventOps.sessionStats(s, d)),
    // per-type return-cadence quantiles over (user, type)-partitioned
    // gaps through the shared sort-based quantile core
    "event_intervals" -> ((s, d) => EventOps.eventIntervals(s, d)),
    // lifetime audience overlap per type pair: distinct cells first,
    // user-keyed join bounded by the type vocabulary
    "event_user_overlap" -> ((s, d) => EventOps.eventUserOverlap(s, d)),
    // per-origin transition entropy in integer micro-nats over the
    // O(types²) transition table
    "event_markov_entropy" -> ((s, d) => EventOps.markovEntropy(s, d)),
    // unordered type-pair co-occurrence over distinct (user, day) cells:
    // bounded O(types²)-per-cell self-join, exact-integer Jaccard
    "event_cooccurrence" -> ((s, d) => EventOps.eventCoOccurrence(s, d)),
    // PageRank over the type-transition graph: distributed edge counts,
    // metadata-sized integer power iteration (15 rounds, 0.85 damping)
    "event_pagerank" -> ((s, d) => EventOps.eventPagerank(s, d, 15)),
    // events-per-user skew histogram: integer bin(n) buckets — the
    // whale-user read that justifies the pre-bucketed plans
    "user_activity_hist" -> ((s, d) => EventOps.userActivityHist(s, d)),
    // RFM quartile segmentation over the O(#users) summary (total-order
    // ntile ties on user_id — identical quartiles in both engines)
    "events_rfm" -> ((s, d) => EventOps.eventsRfm(s, d, 4)),
    // 24-slot hour-of-day rhythm per type: (type, hour) counts + an
    // O(|types|) broadcast share join
    "event_seasonality" -> ((s, d) => EventOps.eventSeasonality(s, d)),
    // per-day KL of the type mix vs the corpus mix — composition drift
    // (the source_kl integer micro-nat contract on events)
    "event_mix_drift" -> ((s, d) => EventOps.eventMixDrift(s, d)),
    // space-saving guarantee audit: the streaming heavyHitters fold
    // replayed batch-side; the oracle pins presence + bracket booleans
    // for every provable heavy hitter to TRUE against exact counts
    "event_heavy_hitters_approx" -> ((s, d) =>
      EventOps.eventHeavyHittersApprox(s, d, 4, 16)),
    // linear-counting distinct-user bitmap: occupied slots + exact
    // distinct as integers; m=256 < fixture cardinalities so the
    // collision/saturation regimes are live
    "sketch_linear_count" -> ((s, d) =>
      EventOps.sketchLinearCount(s, d, 256)),
    // HyperLogLog distinct audit over the rolling WAU window — register
    // maxima as exact integers (estimate stays consumer-side); the
    // sketch union is register-wise max, so the window merge fans
    // SKETCHES (O(days × m)), never users — active_users' at-scale path
    "sketch_hll_users" -> ((s, d) =>
      EventOps.sketchHllUsers(s, d, 6, 7)),
    // HLL register set-algebra (r18): per type pair, both register
    // vectors + the union sketch (elementwise max — the lossless merge
    // the register family exists for); intersection has no register
    // form, so the exact cardinalities ride alongside and the consumer
    // estimates it by inclusion-exclusion (spec-checked driver-side)
    "sketch_hll_setops" -> ((s, d) =>
      EventOps.sketchHllSetops(s, d, 6)),
    // DGIM sliding-window counter (r18): O(log N) exponential buckets
    // per type answer trailing-window counts without storing the
    // window; state is the closed-form {1,2}-digit decomposition of N
    // (deterministic — computed relationally, no fold), audited vs the
    // exact windowed count with the |err| <= oldest/2 bound spec-pinned
    "sketch_dgim_window" -> ((s, d) =>
      EventOps.sketchDgimWindow(s, d, 7)),
    // KMV bottom-k distinct sketch: every sample member + exact distinct
    // as integers, per type AND the __all__ union group (KMV union =
    // bottom-k of concatenated samples); k=8 saturates at both SFs
    "sketch_kmv_distinct" -> ((s, d) =>
      EventOps.sketchKmvDistinct(s, d, 8)),
    // theta-sketch set algebra: per type pair, θ = min of kth-mins
    // (exclusive) + common-below-θ sample count + exact intersection —
    // the set-operation property the bottom-k family exists for
    "sketch_kmv_setops" -> ((s, d) =>
      EventOps.sketchKmvSetops(s, d, 8)),
    // AMS tug-of-war F2: per type, 8 signed frequency sums (md5-parity
    // signs) as exact integers next to the exact self-join size
    "sketch_ams_f2" -> ((s, d) => EventOps.sketchAmsF2(s, d, 8)),
    // AMS inner product: per type pair, the per-row sketch products
    // next to the exact user-keyed join size — optimizer cardinality
    // estimation from constant-size summaries
    "sketch_ams_join" -> ((s, d) => EventOps.sketchAmsJoin(s, d, 8)),
    // watermark-dedup state machine replayed batch-side over real event
    // times (alert-dedup): every event's admit/drop verdict, drops
    // inside the horizon and re-admissions past it both live
    "stream_dedup_replay" -> ((s, d) =>
      EventOps.streamDedupReplay(s, d, 172800)),
    // admission gate replay: static-index anti-join (keys seen in the
    // first 3 days) AND the watermark chain, both verdicts per event
    "stream_admission_replay" -> ((s, d) =>
      EventOps.streamAdmissionReplay(s, d, 172800, 3)),
    // watermark-lateness audit under bounded synthetic disorder (±2 d,
    // oracle replays the same md5 jitter): running-max watermark
    // authority vs a 1-day delay, lateness magnitude + verdict per event
    "stream_late_events" -> ((s, d) =>
      EventOps.streamLateEvents(s, d, 172800, 86400)),
    // token-bucket throttle replayed per key: burst 2, one token/day,
    // exact milli-token balance + verdict per event
    "stream_rate_limit_replay" -> ((s, d) =>
      EventOps.streamRateLimitReplay(s, d, 2, 86400)),
    // provisioned-at-mean consumer backlog: Lindley recursion over the
    // global 6h window grid per type, capacity = ceil(mean load)
    "stream_backlog_replay" -> ((s, d) =>
      EventOps.streamBacklogReplay(s, d, 21600)),
    // the watermarked windowed-xff rollup replayed batch-side (r18 —
    // the last stateful §2.8 machine gains a driver-visible oracle):
    // 12h tumbling windows (expected = 12 fine points — both gate
    // branches live at BOTH SFs; day windows leave sf0.001 all-
    // suppressed), ±12h md5 arrival jitter, running-max watermark
    // authority with a 6h delay, window-end eviction drops, xff gate +
    // method dispatch
    "stream_rollup_replay" -> ((s, d) =>
      EventOps.streamRollupReplay(s, d, 3600, 43200, 43200, 21600)),
    // discovered session paths: sessionize windows + bounded path
    // strings + map-side-combinable count + TakeOrdered
    "event_path_topk" ->
      ((s, d) => EventOps.eventPathTopk(s, d, 3600, 8, 20)),
    // exact micro-unit LTV totals, deterministic ntile segmentation —
    // the RFM single-sort contract
    "user_value_deciles" -> ((s, d) => EventOps.userValueDeciles(s, d, 10)),
    "event_transitions" -> ((s, d) => EventOps.transitions(s, d)),
    "cohort_retention" -> ((s, d) => EventOps.cohortRetention(s, d)),
    // DAU + exact rolling-7-day WAU per observed day (bounded fan-out
    // for the non-decomposable sliding distinct)
    "active_users" -> ((s, d) => EventOps.activeUsers(s, d, 7)),
    // —— §2.9 multimodal plumbing ——
    "mm_decode_stub" -> ((s, d) => MultimodalOps.decodeStubQuery(s, d)),
    // a REAL javax.imageio PNG/BMP encode->decode roundtrip through the
    // same mapPartitions slot (r14): genuine container bytes, decoded
    // dims + exact pixel sum hash-checked against the closed-form
    // synthesis formula — the codec must reproduce every sample to pass
    "mm_decode_real" -> ((s, d) => MultimodalOps.decodeRealQuery(s, d)),
    "mm_decode_audio_real" -> ((s, d) =>
      MultimodalOps.decodeAudioRealQuery(s, d)),
    "mm_audio_rms_real" -> ((s, d) =>
      MultimodalOps.audioRmsRealQuery(s, d)),
    // per-frame zero-crossing counts over the real decoded WAV: pure
    // integer sign comparisons — the VAD/pitch feature next to RMS
    "mm_audio_zcr_real" -> ((s, d) =>
      MultimodalOps.audioZcrRealQuery(s, d)),
    // banded hamming near-dup over the asset pHashes (the multimodal
    // sibling of dedup_simhash; exact collisions stay mm_phash_dedup's)
    "mm_phash_neardup" -> ((s, d) =>
      MultimodalOps.phashNearDup(s, d, 3)),
    // pHash dedup groups off the decoded features: pure integer bit
    // derivation, O(assets) fixed-width group shuffle, no pair join
    "mm_phash_dedup" -> ((s, d) => MultimodalOps.phashDedup(s, d)),
    // the multimodal dup spectrum CLOSED (r17): near-dup pairs + exact
    // collision stars -> star-contraction components (shared GraphOps
    // machinery), cluster id = min doc_id = keeper; and the APPLY face
    // (kept assets after keeper selection, decoded scalars riding along)
    "mm_phash_clusters" -> ((s, d) =>
      MultimodalOps.phashClusters(s, d, 3)),
    "mm_dedup_apply" -> ((s, d) =>
      MultimodalOps.phashDedupApply(s, d, 3)),
    // asset dup-family size histogram (the dedup_cluster_sizes twin)
    "mm_phash_cluster_sizes" -> ((s, d) =>
      MultimodalOps.phashClusterSizes(s, d, 3)),
    // multimodal rolling-ingest admission (r18): arriving asset batch
    // (stable md5 20% id bucket — the SAME batch boundary as the text
    // and embedding incremental faces) vs the indexed corpus, band join
    // new-side-restricted (work ∝ batch), exact bit_count verify incl.
    // hamming 0 (an arriving exact copy rejects too), smaller-id keeps
    "mm_phash_incremental" -> ((s, d) =>
      MultimodalOps.phashIncremental(s, d, 3)),
    // the same verdicts SERVED FROM the persisted mm_phash index table
    // (the production read path; session/index parity suite-pinned)
    "index_mm_phash_incremental" -> ((s, d) =>
      graft.streaming.FeatureIndex.indexedMmPhashIncremental(s, d, 3)),
    // per-source media admission summary (the dedup_incremental_stats
    // twin): batch size / rejected / ratio of the arriving asset batch
    "mm_phash_incremental_stats" -> ((s, d) =>
      MultimodalOps.phashIncrementalStats(s, d, 3)),
    "mm_frame_sample" -> ((s, d) => MultimodalOps.frameSampleQuery(s, d, 10)),
    // REAL multi-frame container: animated-GIF encode → frame-count
    // read → RANDOM-ACCESS decode of only the stride-sampled frames;
    // per-frame exact pixel sums hash-checked against the synthesis
    "mm_frame_sample_real" -> ((s, d) =>
      MultimodalOps.frameSampleRealQuery(s, d, 3)),
    // overlapping STFT-shaped audio windows with tail padding flags —
    // sequence+explode fan-out, no shuffle
    "mm_audio_window" ->
      ((s, d) => MultimodalOps.audioWindowQuery(s, d, 400, 160)),
    "mm_resize_stub" -> ((s, d) => MultimodalOps.resizeQuery(s, d, 224)),
    // REAL nearest-neighbor thumbnail of the genuinely decoded raster
    "mm_resize_real" -> ((s, d) => MultimodalOps.resizeRealQuery(s, d)),
    // REAL-raster aHash: integer mean-threshold bits over the decoded
    // 8x8 thumbnail, plus exact-group sizes
    "mm_phash_real" -> ((s, d) => MultimodalOps.phashRealQuery(s, d)),
    // per-decoded-format deterministic cap sampling — the multimodal
    // training-set curation read (source_cap_sample downstream of the
    // decode stage)
    "mm_stratified_sample" ->
      ((s, d) => MultimodalOps.stratifiedSampleQuery(s, d, 100))
  )

  def oracleSql: Map[String, String] = Map(
    "walk_tree" ->
      """SELECT DISTINCT 'events.' || event_type AS metric FROM events
        | ORDER BY metric""".stripMargin,
    "find_glob" ->
      """SELECT DISTINCT 'events.' || event_type AS metric FROM events
        | WHERE regexp_matches('events.' || event_type, '^events\.[^.]*r[^.]*$')
        | ORDER BY metric""".stripMargin,
    "find_interval" ->
      s"""$PtsCte SELECT metric FROM (
         |   SELECT metric, min(ts) AS earliest, max(ts) + 3600 AS latest
         |   FROM pts WHERE regexp_matches(metric, '^events\\.[^.]*$$')
         |   GROUP BY metric)
         | WHERE 1704412800 < latest AND 1705017600 > earliest
         | ORDER BY metric""".stripMargin,
    "has_node" ->
      """SELECT count(*) > 0 AS has_node
        | FROM (SELECT DISTINCT event_type FROM events)
        | WHERE 'events.' || event_type = 'events.purchase'""".stripMargin,
    "slice_info" ->
      s"""$PtsCte SELECT metric, CAST(3600 AS BIGINT) AS step,
         |   min(ts) AS start_ts, max(ts) + 3600 AS end_ts,
         |   count(*) AS npoints
         | FROM pts GROUP BY metric ORDER BY metric, step""".stripMargin,
    "fetch_range" -> FetchRangeSql,
    // identical answer from the (pb, pd)-partition-pruned store read
    "fetch_range_store" -> FetchRangeSql,
    "densify_grid" -> DensifyGridSql,
    "densify_grid_store" -> DensifyGridSql,
    // delta = value - lag(value) over the dense grid; rate only where the
    // delta is non-negative (counter-reset nulling) — single IEEE ops on
    // identical doubles, no rounding needed
    "series_derivative" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |d AS (
         |  SELECT ts, value, value - lag(value) OVER (ORDER BY ts) AS delta
         |  FROM grid)
         | SELECT ts, value, delta,
         |        CASE WHEN delta >= 0 THEN delta / 3600.0 END AS rate_per_s
         | FROM d ORDER BY ts""".stripMargin,
    // nonNegativeDerivative: counter-reset deltas nulled, no division
    "series_non_negative_derivative" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |d AS (
         |  SELECT ts, value, value - lag(value) OVER (ORDER BY ts) AS delta
         |  FROM grid)
         | SELECT ts, value,
         |        CASE WHEN delta >= 0 THEN delta END AS nn_delta
         | FROM d ORDER BY ts""".stripMargin,
    // trailing 6-slot mean of non-gap values via exact integer micro-unit
    // window sums (floor(v*1e6 + 0.5)) — order-independent at any frame
    // evaluation strategy, one closing division
    "series_moving_avg" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        sum(vm) OVER w * 1.0 / count(vm) OVER w / 1e6 AS ma
         | FROM grid
         | WINDOW w AS (ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY ts""".stripMargin,
    // the three multi-series faces: identical per-metric transform SQL,
    // grid = every cataloged metric x the window (the HwMultiSql grid)
    "series_derivative_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |d AS (
         |  SELECT metric, ts, value,
         |         value - lag(value) OVER (PARTITION BY metric ORDER BY ts)
         |           AS delta
         |  FROM grid)
         | SELECT metric, ts, value, delta,
         |        CASE WHEN delta >= 0 THEN delta / 3600.0 END AS rate_per_s
         | FROM d ORDER BY metric, ts""".stripMargin,
    "series_moving_avg_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts, value,
         |        sum(vm) OVER w * 1.0 / count(vm) OVER w / 1e6 AS ma
         | FROM grid
         | WINDOW w AS (PARTITION BY metric ORDER BY ts
         |              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY metric, ts""".stripMargin,
    "series_zscore_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS km
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |wn AS (
         |  SELECT metric, ts, value, km,
         |         count(km) OVER w AS n, sum(km) OVER w AS s1,
         |         sum(km * km) OVER w AS s2
         |  FROM grid
         |  WINDOW w AS (PARTITION BY metric ORDER BY ts
         |               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
         |sd AS (
         |  SELECT metric, ts, value, km, n, s1,
         |         CASE WHEN n >= 2 THEN
         |           sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 1e3
         |         END AS sd
         |  FROM wn),
         |z AS (
         |  SELECT metric, ts, value,
         |         CASE WHEN km IS NOT NULL AND sd > 0 THEN
         |           floor(((km / 1e3 - s1 * 1.0 / n / 1e3) / sd) * 1e6 + 0.5) / 1e6
         |         END AS z
         |  FROM sd)
         | SELECT metric, ts, value, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 2.0 END AS anomaly
         | FROM z ORDER BY metric, ts""".stripMargin,
    "series_keep_last_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts, value,
         |        last_value(value IGNORE NULLS) OVER
         |          (PARTITION BY metric ORDER BY ts
         |           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS filled
         | FROM grid ORDER BY metric, ts""".stripMargin,
    "series_integral_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts, value,
         |        sum(vm) OVER (PARTITION BY metric ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e6
         |          AS integral
         | FROM grid ORDER BY metric, ts""".stripMargin,
    "series_ewma_multi" -> EwmaMultiSql,
    // r15 multi faces: identical per-metric transform SQL over the
    // all-metric grid — stdev's milli-unit moment sums, median over
    // copied values, interpolate's neighbor structs, summarize's
    // micro-unit bucket rollup
    "series_stdev_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS km
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |wn AS (
         |  SELECT metric, ts, value,
         |         count(km) OVER w AS n, sum(km) OVER w AS s1,
         |         sum(km * km) OVER w AS s2
         |  FROM grid
         |  WINDOW w AS (PARTITION BY metric ORDER BY ts
         |               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         | SELECT metric, ts, value,
         |        CASE WHEN n >= 2 THEN
         |          floor((sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 1e3) * 1e6 + 0.5) / 1e6 END AS stdev
         | FROM wn ORDER BY metric, ts""".stripMargin,
    "series_moving_median_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts, value,
         |        median(value) OVER
         |          (PARTITION BY metric ORDER BY ts
         |           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         |          AS median
         | FROM grid ORDER BY metric, ts""".stripMargin,
    "series_offset_to_zero_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts, value,
         |        value - min(value) OVER (PARTITION BY metric) AS zeroed
         | FROM grid ORDER BY metric, ts""".stripMargin,
    "series_min_max_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |x AS (
         |  SELECT metric, ts, value,
         |         min(value) OVER (PARTITION BY metric) AS mn,
         |         max(value) OVER (PARTITION BY metric) AS mx
         |  FROM grid)
         | SELECT metric, ts, value,
         |        CASE WHEN value IS NOT NULL THEN
         |          CASE WHEN mx > mn
         |               THEN floor(((value - mn) / (mx - mn)) * 1e6 + 0.5) / 1e6
         |               ELSE 0.0 END END AS norm
         | FROM x ORDER BY metric, ts""".stripMargin,
    "series_hitcount_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts - ((ts - 1704412800) % 14400) AS ts,
         |        count(vm) AS n_slots,
         |        CAST(sum(vm * 3600) AS DOUBLE) / 1e6 AS hits
         | FROM grid GROUP BY 1, 2 ORDER BY metric, ts""".stripMargin,
    "series_outlier_mad_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |n1 AS (SELECT metric, count(vm) AS n FROM grid GROUP BY metric),
         |r1 AS (SELECT metric, vm, row_number() OVER
         |         (PARTITION BY metric ORDER BY vm, ts) AS r
         |       FROM grid WHERE vm IS NOT NULL),
         |med AS (
         |  SELECT r.metric, sum(CASE WHEN n.n % 2 = 1
         |               THEN CASE WHEN r.r = (n.n + 1) // 2 THEN vm * 2 END
         |               ELSE CASE WHEN r.r = n.n // 2
         |                          OR r.r = n.n // 2 + 1 THEN vm END
         |             END) AS med2
         |  FROM r1 r JOIN n1 n ON r.metric = n.metric GROUP BY r.metric),
         |dv AS (
         |  SELECT g.metric, g.ts, g.value, g.vm, m.med2,
         |         CASE WHEN g.vm IS NOT NULL
         |              THEN abs(g.vm * 2 - m.med2) END AS dev
         |  FROM grid g JOIN med m ON g.metric = m.metric),
         |n2 AS (SELECT metric, count(dev) AS n FROM dv GROUP BY metric),
         |r2 AS (SELECT metric, dev, row_number() OVER
         |         (PARTITION BY metric ORDER BY dev, ts) AS r
         |       FROM dv WHERE dev IS NOT NULL),
         |mad AS (
         |  SELECT r.metric, sum(CASE WHEN n.n % 2 = 1
         |               THEN CASE WHEN r.r = (n.n + 1) // 2 THEN dev * 2 END
         |               ELSE CASE WHEN r.r = n.n // 2
         |                          OR r.r = n.n // 2 + 1 THEN dev END
         |             END) AS mad4
         |  FROM r2 r JOIN n2 n ON r.metric = n.metric GROUP BY r.metric),
         |zc AS (
         |  SELECT d.metric, d.ts, d.value,
         |         floor((CASE WHEN d.vm IS NOT NULL AND md.mad4 > 0
         |               THEN 0.6745 * 2 * (d.vm * 2 - d.med2) * 1.0 / md.mad4
         |               END) * 1e6 + 0.5) / 1e6 AS z
         |  FROM dv d JOIN mad md ON d.metric = md.metric)
         | SELECT metric, ts, value, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 3.5 END AS outlier
         | FROM zc ORDER BY metric, ts""".stripMargin,
    "series_bands_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS vk
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |wn AS (
         |  SELECT metric, ts, value,
         |         count(vk) OVER w AS n,
         |         CAST(sum(vk) OVER w AS BIGINT) AS s1,
         |         CAST(sum(vk * vk) OVER w AS BIGINT) AS s2
         |  FROM grid
         |  WINDOW w AS (PARTITION BY metric ORDER BY ts
         |               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
         |b AS (
         |  SELECT metric, ts, value,
         |         CAST(s1 AS DOUBLE) / n / 1e3 AS mean,
         |         CASE WHEN n > 1
         |              THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n / 1e3
         |         END AS sd
         |  FROM wn),
         |c AS (
         |  SELECT metric, ts, value, mean, sd,
         |         mean + 2.0 * sd AS upper, mean - 2.0 * sd AS lower
         |  FROM b)
         | SELECT metric, ts, value, floor((mean) * 1e6 + 0.5) / 1e6 AS mean,
         |        floor((sd) * 1e6 + 0.5) / 1e6 AS sd,
         |        floor((upper) * 1e6 + 0.5) / 1e6 AS upper, floor((lower) * 1e6 + 0.5) / 1e6 AS lower,
         |        (value IS NOT NULL AND sd IS NOT NULL AND
         |         (value > upper OR value < lower)) AS aberrant
         | FROM c ORDER BY metric, ts""".stripMargin,
    "series_changepoint_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |tot AS (SELECT metric, sum(vm) AS total, count(vm) AS n
         |        FROM grid GROUP BY metric),
         |sc AS (
         |  SELECT g.metric, g.ts, g.value, t.n,
         |         sum(CASE WHEN g.vm IS NOT NULL THEN t.n * g.vm - t.total END)
         |           OVER (PARTITION BY g.metric ORDER BY g.ts
         |                 ROWS UNBOUNDED PRECEDING) AS csm
         |  FROM grid g JOIN tot t ON g.metric = t.metric),
         |pk AS (
         |  SELECT metric, ts AS peak_ts FROM (
         |    SELECT metric, ts, row_number() OVER
         |             (PARTITION BY metric ORDER BY abs(csm) DESC, ts ASC)
         |             AS r
         |    FROM sc WHERE csm IS NOT NULL AND n >= 2)
         |  WHERE r = 1)
         | SELECT s.metric, s.ts, s.value,
         |        floor((CASE WHEN s.n >= 1 THEN s.csm * 1.0 / s.n / 1e6 END)
         |              * 1e6 + 0.5) / 1e6 AS cusum,
         |        CASE WHEN s.csm IS NOT NULL AND s.n >= 2
         |             THEN s.ts = p.peak_ts END AS changepoint
         | FROM sc s LEFT JOIN pk p ON s.metric = p.metric
         | ORDER BY s.metric, s.ts""".stripMargin,
    "series_holt_winters_bands_multi" -> {
      val lNew = "(0.5 * (g.value - hw.s[(g.i % 24) + 1]) + 0.5 * (hw.l + hw.b))"
      val fPrior = "(hw.l + hw.b + hw.s[(g.i % 24) + 1])"
      s"""${PtsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $MetaCte,
         |grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |gi AS (
         |  SELECT metric, ts, value,
         |         CAST(row_number() OVER (PARTITION BY metric ORDER BY ts) - 1
         |           AS BIGINT) AS i
         |  FROM grid),
         |hw AS (
         |  SELECT metric, CAST(-1 AS BIGINT) AS i, 0.0::DOUBLE AS l,
         |         0.0::DOUBLE AS b,
         |         list_transform(range(24), x -> 0.0::DOUBLE) AS s,
         |         list_transform(range(24), x -> 0.0::DOUBLE) AS dv,
         |         FALSE AS ini, NULL::DOUBLE AS f, NULL::DOUBLE AS dev
         |  FROM (SELECT metric FROM meta)
         |  UNION ALL
         |  SELECT g.metric, g.i,
         |         CASE WHEN g.value IS NULL THEN hw.l
         |              WHEN NOT hw.ini THEN g.value
         |              ELSE $lNew END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.b
         |              ELSE 0.25 * ($lNew - hw.l) + 0.75 * hw.b END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.s
         |              ELSE list_transform(range(1, 25), j ->
         |                CASE WHEN j = (g.i % 24) + 1
         |                     THEN 0.5 * (g.value - $lNew) + 0.5 * hw.s[j]
         |                     ELSE hw.s[j] END) END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.dv
         |              ELSE list_transform(range(1, 25), j ->
         |                CASE WHEN j = (g.i % 24) + 1
         |                     THEN 0.5 * abs(g.value - $fPrior) + 0.5 * hw.dv[j]
         |                     ELSE hw.dv[j] END) END,
         |         hw.ini OR g.value IS NOT NULL,
         |         CASE WHEN hw.ini THEN $fPrior END,
         |         CASE WHEN hw.ini THEN hw.dv[(g.i % 24) + 1] END
         |  FROM hw, gi g WHERE g.metric = hw.metric AND g.i = hw.i + 1),
         |bands AS (
         |  SELECT g.metric, g.ts, g.value, hw.f, hw.dev,
         |         hw.f - 3.0 * hw.dev AS lo, hw.f + 3.0 * hw.dev AS hi
         |  FROM hw JOIN gi g USING (metric, i) WHERE i >= 0)
         | SELECT metric, ts, value, floor((f) * 1e6 + 0.5) / 1e6 AS forecast,
         |        floor((lo) * 1e6 + 0.5) / 1e6 AS lower, floor((hi) * 1e6 + 0.5) / 1e6 AS upper,
         |        floor((CASE WHEN value IS NULL OR f IS NULL THEN NULL
         |                   WHEN value > hi THEN value - hi
         |                   WHEN value < lo THEN value - lo
         |                   ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS aberration
         | FROM bands ORDER BY metric, ts""".stripMargin
    },
    "series_seasonal_decompose_multi" ->
      s"""$StlMultiCte
         | SELECT metric, ts, value, trend, seasonal, residual
         | FROM dec ORDER BY metric, ts""".stripMargin,
    "series_anomaly_stl_multi" ->
      s"""$StlMultiCte,
         |rq AS (
         |  SELECT metric, ts, value, residual,
         |         CAST(floor(residual * 1e3 + 0.5) AS BIGINT) AS rm
         |  FROM dec),
         |st AS (
         |  SELECT metric, count(rm) AS n, sum(rm) AS s1, sum(rm * rm) AS s2
         |  FROM rq GROUP BY metric),
         |zz AS (
         |  SELECT r.metric, r.ts, r.value, r.residual,
         |         CASE WHEN r.rm IS NOT NULL AND s.n >= 2 AND
         |           sqrt((s.n * s.s2 - s.s1 * s.s1) * 1.0 /
         |                (s.n * (s.n - 1))) / 1e3 > 0
         |         THEN floor(((r.rm / 1e3 - s.s1 * 1.0 / s.n / 1e3) /
         |           (sqrt((s.n * s.s2 - s.s1 * s.s1) * 1.0 /
         |                 (s.n * (s.n - 1))) / 1e3)) * 1e6 + 0.5) / 1e6
         |         END AS z
         |  FROM rq r JOIN st s ON r.metric = s.metric)
         | SELECT metric, ts, value, residual, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS anomaly
         | FROM zz ORDER BY metric, ts""".stripMargin,
    "series_stl_strength_multi" ->
      s"""$StlMultiCte,
         |q AS (
         |  SELECT metric,
         |         CAST(floor(residual * 1e3 + 0.5) AS BIGINT) AS rm,
         |         CAST(floor((value - seasonal) * 1e3 + 0.5) AS BIGINT)
         |           AS tm,
         |         CAST(floor((value - trend) * 1e3 + 0.5) AS BIGINT) AS sm
         |  FROM dec
         |  WHERE value IS NOT NULL AND trend IS NOT NULL
         |    AND seasonal IS NOT NULL),
         |m AS (
         |  SELECT metric, count(*) AS n,
         |         count(*) * sum(rm * rm) - sum(rm) * sum(rm) AS vr,
         |         count(*) * sum(tm * tm) - sum(tm) * sum(tm) AS vt,
         |         count(*) * sum(sm * sm) - sum(sm) * sum(sm) AS vs
         |  FROM q GROUP BY metric)
         | SELECT metric, n,
         |        floor((greatest(0.0, COALESCE(CASE WHEN vt > 0 THEN
         |          1.0 - CAST(vr AS DOUBLE) / CAST(vt AS DOUBLE) END, 0.0))) * 1e6 + 0.5) / 1e6 AS trend_strength,
         |        floor((greatest(0.0, COALESCE(CASE WHEN vs > 0 THEN
         |          1.0 - CAST(vr AS DOUBLE) / CAST(vs AS DOUBLE) END, 0.0))) * 1e6 + 0.5) / 1e6 AS seasonal_strength
         | FROM m ORDER BY metric""".stripMargin,
    "series_autocorrelation_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts,
         |         CAST(floor(p.value * 1e6 + 0.5) AS HUGEINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts
         |  WHERE p.value IS NOT NULL),
         |lags AS (SELECT unnest(generate_series(1, 48)) AS lag),
         |pr AS (
         |  SELECT a.metric, l.lag, a.vm AS am, b.vm AS bm
         |  FROM grid a CROSS JOIN lags l
         |  JOIN grid b ON b.metric = a.metric AND b.ts = a.ts - l.lag * 3600),
         |mm AS (
         |  SELECT metric, lag, CAST(count(*) AS HUGEINT) AS n, sum(am) AS sa,
         |         sum(bm) AS sb, sum(am * bm) AS sab,
         |         sum(am * am) AS saa, sum(bm * bm) AS sbb
         |  FROM pr GROUP BY metric, lag),
         |d AS (
         |  SELECT metric, lag, n, sa, sb, sab,
         |         CAST(n * saa - sa * sa AS DOUBLE) AS d1,
         |         CAST(n * sbb - sb * sb AS DOUBLE) AS d2
         |  FROM mm)
         | SELECT metric, CAST(lag AS BIGINT) AS lag,
         |        CAST(n AS BIGINT) AS n_pairs,
         |        CASE WHEN d1 > 0 AND d2 > 0 THEN
         |          floor((CAST(n * sab - sa * sb AS DOUBLE) / sqrt(d1 * d2)) * 1e6 + 0.5) / 1e6
         |        END AS r
         | FROM d ORDER BY metric, lag""".stripMargin,
    "series_theil_sen_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, CAST((g.ts - 1704412800) // 3600 AS BIGINT) AS x,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |sl AS (
         |  SELECT a.metric,
         |         (b.vm - a.vm) * 1.0 / (b.x - a.x) / 1e6 AS slope
         |  FROM grid a JOIN grid b ON a.metric = b.metric AND a.x < b.x),
         |m1 AS (SELECT metric, count(*) AS m FROM sl GROUP BY metric),
         |r1 AS (SELECT metric, slope, row_number() OVER
         |         (PARTITION BY metric ORDER BY slope) AS r FROM sl),
         |med AS (
         |  SELECT r.metric, sum(CASE WHEN n.m % 2 = 1
         |               THEN CASE WHEN r.r = (n.m + 1) // 2
         |                         THEN slope * 2 END
         |               ELSE CASE WHEN r.r = n.m // 2
         |                          OR r.r = n.m // 2 + 1 THEN slope END
         |             END) / 2.0 AS slope, max(n.m) AS n_pairs
         |  FROM r1 r JOIN m1 n ON r.metric = n.metric GROUP BY r.metric),
         |np AS (SELECT metric, count(*) AS n_points FROM grid GROUP BY metric)
         | SELECT med.metric, np.n_points,
         |        CAST(med.n_pairs AS BIGINT) AS n_pairs,
         |        floor(med.slope * 1e6 + 0.5) / 1e6 AS slope_per_slot
         | FROM med JOIN np ON med.metric = np.metric
         | ORDER BY med.metric""".stripMargin,
    "series_interpolate_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts),
         |nb AS (
         |  SELECT metric, ts, value,
         |         last_value(CASE WHEN value IS NOT NULL THEN
         |             struct_pack(t := ts, v := value) END IGNORE NULLS)
         |           OVER (PARTITION BY metric ORDER BY ts
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS p,
         |         first_value(CASE WHEN value IS NOT NULL THEN
         |             struct_pack(t := ts, v := value) END IGNORE NULLS)
         |           OVER (PARTITION BY metric ORDER BY ts
         |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |           AS nx
         |  FROM grid),
         |f AS (
         |  SELECT metric, ts, value,
         |         CASE WHEN value IS NOT NULL THEN value
         |              WHEN p IS NOT NULL AND nx IS NOT NULL THEN
         |                p.v + (nx.v - p.v) * ((ts - p.t) / (nx.t - p.t))
         |         END AS interp
         |  FROM nb)
         | SELECT metric, ts, value, interp,
         |        (value IS NULL AND interp IS NOT NULL) AS filled
         | FROM f ORDER BY metric, ts""".stripMargin,
    "series_summarize_multi" ->
      s"""$PtsCte, $MetaCte, grid AS (
         |  SELECT m.metric, g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = m.metric AND p.ts = g.ts)
         | SELECT metric, ts - ((ts - 1704412800) % 14400) AS ts,
         |        count(vm) AS n_slots,
         |        sum(vm) / 1e6 AS v_sum,
         |        sum(vm) * 1.0 / count(vm) / 1e6 AS v_avg,
         |        min(value) AS v_min,
         |        max(value) AS v_max
         | FROM grid GROUP BY metric, 2 ORDER BY metric, ts""".stripMargin,
    // r15 wave 2: six more single-face transforms on the all-metric
    // grid, windows PARTITION BY metric (integral_by_interval by
    // metric+bucket — the finest window axis in the family)
    "series_moving_sum_multi" ->
      s"""${multiGridCte(",\n|         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm")}
         | SELECT metric, ts, value,
         |        floor((sum(vm) OVER w / 1e6) * 1e6 + 0.5) / 1e6 AS msum,
         |        min(value) OVER w AS mmin,
         |        max(value) OVER w AS mmax
         | FROM grid
         | WINDOW w AS (PARTITION BY metric ORDER BY ts
         |              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY metric, ts""".stripMargin,
    "series_moving_minmax_multi" ->
      s"""${multiGridCte()}
         | SELECT metric, ts, value,
         |        min(value) OVER w AS mv_min, max(value) OVER w AS mv_max
         | FROM grid
         | WINDOW w AS (PARTITION BY metric ORDER BY ts
         |              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY metric, ts""".stripMargin,
    "series_per_second_multi" ->
      s"""${multiGridCte()},
         |d AS (
         |  SELECT metric, ts, value,
         |         lag(value) OVER (PARTITION BY metric ORDER BY ts) AS prev
         |  FROM grid)
         | SELECT metric, ts, value,
         |        CASE WHEN value > 1000.0 THEN NULL
         |             WHEN value - prev >= 0 THEN (value - prev) / 3600.0
         |             WHEN 1000.0 >= prev
         |               THEN (1000.0 - prev + value + 1.0) / 3600.0
         |        END AS rate_per_s
         | FROM d ORDER BY metric, ts""".stripMargin,
    "series_delay_multi" ->
      s"""${multiGridCte()}
         | SELECT metric, ts, value,
         |        lag(value, 3) OVER (PARTITION BY metric ORDER BY ts)
         |          AS delayed
         | FROM grid ORDER BY metric, ts""".stripMargin,
    "series_changed_multi" ->
      s"""${multiGridCte()},
         |d AS (
         |  SELECT metric, ts, value,
         |         lag(value) OVER (PARTITION BY metric ORDER BY ts) AS prev
         |  FROM grid)
         | SELECT metric, ts, value,
         |        CASE WHEN value IS NOT NULL AND prev IS NOT NULL
         |               AND value <> prev
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |          AS changed
         | FROM d ORDER BY metric, ts""".stripMargin,
    "series_integral_by_interval_multi" ->
      s"""${multiGridCte(",\n|         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm,\n|         g.ts - ((g.ts - 1704412800) % 14400) AS bucket")}
         | SELECT metric, ts, value,
         |        sum(vm) OVER (PARTITION BY metric, bucket ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e6
         |          AS integral
         | FROM grid ORDER BY metric, ts""".stripMargin,
    // coarse 4h re-bucketing anchored at the window start; bucket sums in
    // integer micro-units (order-independent), min/max/count exact
    "series_summarize" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts - ((ts - 1704412800) % 14400) AS ts,
         |        count(vm) AS n_slots,
         |        sum(vm) / 1e6 AS v_sum,
         |        sum(vm) * 1.0 / count(vm) / 1e6 AS v_avg,
         |        min(value) AS v_min,
         |        max(value) AS v_max
         | FROM grid GROUP BY 1 ORDER BY ts""".stripMargin,
    // integral-preserving 4h re-bucket: per-slot micro-units × step are
    // exact longs, the bucket total an order-independent integer sum
    "series_hitcount" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts - ((ts - 1704412800) % 14400) AS ts,
         |        count(vm) AS n_slots,
         |        CAST(sum(vm * 3600) AS DOUBLE) / 1e6 AS hits
         | FROM grid GROUP BY 1 ORDER BY ts""".stripMargin,
    // trailing sum in exact micro-units; min/max order-free
    "series_moving_sum" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        floor((sum(vm) OVER w / 1e6) * 1e6 + 0.5) / 1e6 AS msum,
         |        min(value) OVER w AS mmin,
         |        max(value) OVER w AS mmax
         | FROM grid
         | WINDOW w AS (ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY ts""".stripMargin,
    // pointwise log10, None at v <= 0 — one IEEE op per slot
    "series_log" ->
      s"""$PtsCte SELECT g.ts, p.value,
         |        CASE WHEN p.value > 0
         |             THEN floor((log10(p.value)) * 1e6 + 0.5) / 1e6 END AS "log10"
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |   USING (ts)
         | ORDER BY ts""".stripMargin,
    // the absolute/offset/scale/invert pointwise family off one scan
    "series_absolute" ->
      s"""$PtsCte SELECT g.ts, p.value,
         |        abs(p.value) AS "abs",
         |        floor((p.value + 10.0) * 1e6 + 0.5) / 1e6 AS "offset",
         |        floor((p.value * 2.0) * 1e6 + 0.5) / 1e6 AS scaled,
         |        CASE WHEN p.value <> 0
         |             THEN floor((1.0 / p.value) * 1e6 + 0.5) / 1e6 END AS inverted
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |   USING (ts)
         | ORDER BY ts""".stripMargin,
    // minMax normalization: window min/max on identical doubles, one
    // fixed IEEE sequence; constant series closes to 0 on both engines
    "series_min_max" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |m AS (SELECT min(value) AS mn, max(value) AS mx FROM grid)
         | SELECT g.ts, g.value,
         |        CASE WHEN g.value IS NOT NULL THEN
         |          CASE WHEN m.mx > m.mn
         |               THEN floor(((g.value - m.mn) / (m.mx - m.mn)) * 1e6 + 0.5) / 1e6
         |               ELSE 0.0 END END AS norm
         | FROM grid g CROSS JOIN m ORDER BY ts""".stripMargin,
    // the interpolated p-quantile overlay: same rank/interpolation chain
    // as series_percentiles, single group (ties on value are
    // interpolation-neutral)
    "series_npercentile" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |ranked AS (
         |  SELECT value, row_number() OVER (ORDER BY value, ts) - 1 AS rn,
         |         count(*) OVER () AS n
         |  FROM grid WHERE value IS NOT NULL),
         |t AS (
         |  SELECT 0.95 * (n - 1) AS h,
         |         CAST(floor(0.95 * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(0.95 * (n - 1)) AS BIGINT) AS hi
         |  FROM (SELECT DISTINCT n FROM ranked)),
         |q AS (
         |  SELECT floor((rl.value + (rh.value - rl.value) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS pline
         |  FROM t JOIN ranked rl ON rl.rn = t.lo
         |         JOIN ranked rh ON rh.rn = t.hi)
         | SELECT g.ts, g.value, q.pline
         | FROM grid g LEFT JOIN q ON true ORDER BY ts""".stripMargin,
    // removeAbovePercentile: p90 threshold from the same chain; slots
    // above it null out (graphite's None)
    "series_remove_above_percentile" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |ranked AS (
         |  SELECT value, row_number() OVER (ORDER BY value, ts) - 1 AS rn,
         |         count(*) OVER () AS n
         |  FROM grid WHERE value IS NOT NULL),
         |t AS (
         |  SELECT 0.9 * (n - 1) AS h,
         |         CAST(floor(0.9 * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(0.9 * (n - 1)) AS BIGINT) AS hi
         |  FROM (SELECT DISTINCT n FROM ranked)),
         |q AS (
         |  SELECT floor((rl.value + (rh.value - rl.value) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS pline
         |  FROM t JOIN ranked rl ON rl.rn = t.lo
         |         JOIN ranked rh ON rh.rn = t.hi)
         | SELECT g.ts, g.value, q.pline,
         |        CASE WHEN g.value <= q.pline THEN g.value END AS kept
         | FROM grid g LEFT JOIN q ON true ORDER BY ts""".stripMargin,
    // removeBelowPercentile: the dual — p = 0.1, keep value >= pline
    "series_remove_below_percentile" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |ranked AS (
         |  SELECT value, row_number() OVER (ORDER BY value, ts) - 1 AS rn,
         |         count(*) OVER () AS n
         |  FROM grid WHERE value IS NOT NULL),
         |t AS (
         |  SELECT 0.1 * (n - 1) AS h,
         |         CAST(floor(0.1 * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(0.1 * (n - 1)) AS BIGINT) AS hi
         |  FROM (SELECT DISTINCT n FROM ranked)),
         |q AS (
         |  SELECT floor((rl.value + (rh.value - rl.value) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS pline
         |  FROM t JOIN ranked rl ON rl.rn = t.lo
         |         JOIN ranked rh ON rh.rn = t.hi)
         | SELECT g.ts, g.value, q.pline,
         |        CASE WHEN g.value >= q.pline THEN g.value END AS kept
         | FROM grid g LEFT JOIN q ON true ORDER BY ts""".stripMargin,
    // removeBetweenPercentile: per-slot cross-series band via graphite's
    // non-interpolating rank pick (integer ceil-division), keep metrics
    // that ever leave it
    "series_remove_between_percentile" ->
      s"""$PtsCte, $MetaCte, ranked AS (
         |  SELECT metric, ts, value,
         |         CAST(row_number() OVER
         |           (PARTITION BY ts ORDER BY value, metric) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY ts) AS BIGINT) AS cnt
         |  FROM pts
         |  WHERE ts >= 1704412800 AND ts < 1705021200 AND value IS NOT NULL),
         |bands AS (
         |  SELECT ts,
         |         min(CASE WHEN rn = least(greatest(
         |               (40 * (cnt + 1) + 99) // 100, 1), cnt)
         |             THEN value END) AS low,
         |         min(CASE WHEN rn = least(greatest(
         |               (60 * (cnt + 1) + 99) // 100, 1), cnt)
         |             THEN value END) AS high
         |  FROM ranked GROUP BY ts),
         |outside AS (
         |  SELECT r.metric,
         |         sum(CASE WHEN r.value <= b.low OR r.value >= b.high
         |             THEN 1 ELSE 0 END) AS n_outside
         |  FROM ranked r JOIN bands b USING (ts) GROUP BY r.metric)
         | SELECT m.metric,
         |        CAST(coalesce(o.n_outside, 0) AS BIGINT) AS n_outside,
         |        coalesce(o.n_outside, 0) > 0 AS kept
         | FROM meta m LEFT JOIN outside o USING (metric)
         | ORDER BY metric""".stripMargin,
    // flat overlay lines: micro-int mean, exact min/max, one aggregate
    "series_aggregate_line" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |l AS (
         |  SELECT floor((sum(vm) * 1.0 / count(vm) / 1e6) * 1e6 + 0.5) / 1e6 AS avg_line,
         |         min(value) AS min_line, max(value) AS max_line
         |  FROM grid)
         | SELECT g.ts, g.value, l.avg_line, l.min_line, l.max_line
         | FROM grid g CROSS JOIN l ORDER BY ts""".stripMargin,
    // change detector over the dense grid — lag compare, gaps emit 0
    "series_changed" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |d AS (
         |  SELECT ts, value, lag(value) OVER (ORDER BY ts) AS prev
         |  FROM grid)
         | SELECT ts, value,
         |        CASE WHEN value IS NOT NULL AND prev IS NOT NULL
         |               AND value <> prev
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |          AS changed
         | FROM d ORDER BY ts""".stripMargin,
    // two-series slot product — the divide oracle's join with a product
    "series_multiply" ->
      s"""$PtsCte, ga AS (
         |  SELECT g.ts, p.value AS a_value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |gb AS (
         |  SELECT g.ts, p.value AS b_value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') p
         |    USING (ts))
         | SELECT ga.ts, ga.a_value, gb.b_value,
         |        floor((ga.a_value * gb.b_value) * 1e6 + 0.5) / 1e6 AS product
         | FROM ga JOIN gb USING (ts) ORDER BY ts""".stripMargin,
    // noisiest-series selection: integer milli-unit moments, population
    // sigma as one fixed closing IEEE sequence, rank ties on metric
    "series_most_deviant" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, count(*) AS n,
         |         sum(CAST(floor(value * 1e3 + 0.5) AS BIGINT)) AS s1,
         |         sum(CAST(floor(value * 1e3 + 0.5) AS BIGINT)
         |           * CAST(floor(value * 1e3 + 0.5) AS BIGINT)) AS s2
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric),
         |sg AS (
         |  SELECT metric,
         |         floor((sqrt((n * s2 - s1 * s1) * 1.0) / n / 1e3) * 1e6 + 0.5) / 1e6
         |           AS sigma
         |  FROM m)
         | SELECT rnk, metric, sigma FROM (
         |   SELECT CAST(row_number() OVER (ORDER BY sigma DESC, metric)
         |            AS BIGINT) AS rnk, metric, sigma
         |   FROM sg)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // trailing 6-slot min/max of non-gap values on the dense grid
    "series_moving_minmax" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        min(value) OVER w AS mv_min, max(value) OVER w AS mv_max
         | FROM grid
         | WINDOW w AS (ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         | ORDER BY ts""".stripMargin,
    // two-series slot-wise difference; NULL propagates from either gap
    "series_diff" ->
      s"""$PtsCte, ga AS (
         |  SELECT g.ts, p.value AS a_value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') p
         |    USING (ts)),
         |gb AS (
         |  SELECT g.ts, p.value AS b_value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ga.ts, ga.a_value, gb.b_value,
         |        ga.a_value - gb.b_value AS diff
         | FROM ga JOIN gb USING (ts) ORDER BY ts""".stripMargin,
    // panel ordering by in-window maximum, ties to metric name
    "series_sort_by_maxima" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, max(value) AS max_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT CAST(row_number() OVER (ORDER BY max_value DESC, metric)
         |          AS BIGINT) AS rnk,
         |        metric, max_value
         | FROM m ORDER BY rnk""".stripMargin,
    // per-slot live-series count + cross-series min/max/range on the
    // dense slot grid (0 series → NULL range)
    "series_range_of_series" ->
      s"""$PtsCte, a AS (
         |  SELECT ts, count(*) AS n_series,
         |         min(value) AS v_min, max(value) AS v_max
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY ts)
         | SELECT g.ts, COALESCE(a.n_series, 0) AS n_series,
         |        a.v_min, a.v_max,
         |        floor((a.v_max - a.v_min) * 1e6 + 0.5) / 1e6 AS "range"
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN a USING (ts) ORDER BY ts""".stripMargin,
    // averageAbove: micro-int means gate the catalog; survivors emit
    // the fetch_pattern-shaped dense grids
    "series_average_above" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric,
         |           sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |             / count(value) / 1e6 AS mean
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE mean >= 85.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // cross-series per-slot population sigma: milli-int moments, one
    // fixed closing IEEE sequence, padded onto the dense slot grid
    "series_stddev_series" ->
      s"""$PtsCte, a AS (
         |  SELECT ts, count(*) AS n_series,
         |         sum(CAST(floor(value * 1e3 + 0.5) AS BIGINT)) AS s1,
         |         sum(CAST(floor(value * 1e3 + 0.5) AS BIGINT)
         |           * CAST(floor(value * 1e3 + 0.5) AS BIGINT)) AS s2
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY ts)
         | SELECT g.ts, COALESCE(a.n_series, 0) AS n_series,
         |        floor((a.s1 * 1.0 / a.n_series / 1e3) * 1e6 + 0.5) / 1e6 AS mean,
         |        floor((sqrt((a.n_series * a.s2 - a.s1 * a.s1) * 1.0)
         |          / a.n_series / 1e3) * 1e6 + 0.5) / 1e6 AS sd
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN a USING (ts) ORDER BY ts""".stripMargin,
    // graphite's DEFAULT summarize alignment: buckets at epoch multiples
    // of the 10000 s interval (which does not divide the window start),
    // so the first bucket is partial and precedes `from`
    "series_summarize_aligned" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts - (ts % 10000) AS ts,
         |        count(vm) AS n_slots,
         |        sum(vm) / 1e6 AS v_sum,
         |        sum(vm) * 1.0 / count(vm) / 1e6 AS v_avg,
         |        min(value) AS v_min,
         |        max(value) AS v_max
         | FROM grid GROUP BY 1 ORDER BY ts""".stripMargin,
    // gap-handling pair: literal fill + known flag, values copied
    "series_transform_null" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value, COALESCE(value, 0.0) AS filled,
         |        value IS NOT NULL AS known
         | FROM grid ORDER BY ts""".stripMargin,
    // floor gate: sub-threshold slots null out, timeline stays dense
    "series_remove_below_value" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        CASE WHEN value >= 85.0 THEN value END AS gated
         | FROM grid ORDER BY ts""".stripMargin,
    // path-regex series selection (exclude): unanchored search on the
    // metric catalog, survivors emit the fetch_pattern-shaped grids
    "series_exclude" ->
      s"""$PtsCte, $MetaCte, g AS (
         |  SELECT m.metric, t.ts
         |  FROM (SELECT metric FROM meta
         |        WHERE NOT regexp_matches(metric, 'error|signup')) m
         |  CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // KEEP dual of exclude: unanchored regex search keeps matching
    // metrics, same grid shape
    "series_grep" ->
      s"""$PtsCte, $MetaCte, g AS (
         |  SELECT m.metric, t.ts
         |  FROM (SELECT metric FROM meta
         |        WHERE regexp_matches(metric, 'purchase|click')) m
         |  CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // perSecond with counter-wrap recovery: graphite's exact formula
    // (maxValue - prev + value + 1) / step when the cap explains the
    // drop; one fixed IEEE sequence, no rounding
    "series_per_second" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |d AS (
         |  SELECT ts, value, lag(value) OVER (ORDER BY ts) AS prev FROM grid)
         | SELECT ts, value,
         |        CASE WHEN value > 1000.0 THEN NULL
         |             WHEN value - prev >= 0 THEN (value - prev) / 3600.0
         |             WHEN 1000.0 >= prev
         |               THEN (1000.0 - prev + value + 1.0) / 3600.0
         |        END AS rate_per_s
         | FROM d ORDER BY ts""".stripMargin,
    // slot-domain lag: values shifted 3 slots later, copied not computed
    "series_delay" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value, lag(value, 3) OVER (ORDER BY ts) AS delayed
         | FROM grid ORDER BY ts""".stripMargin,
    // offsetToZero: whole-window min (comparison-only) subtracted, one
    // IEEE subtraction per slot
    "series_offset_to_zero" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value, value - min(value) OVER () AS zeroed
         | FROM grid ORDER BY ts""".stripMargin,
    // sortByTotal: per-metric micro-int sums ranked desc, name tiebreak
    "series_sort_by_total" ->
      s"""$PtsCte, m AS (
         |  SELECT metric,
         |         sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) / 1e6
         |           AS total_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT CAST(row_number() OVER (ORDER BY total_value DESC, metric)
         |          AS BIGINT) AS rnk,
         |        metric, total_value
         | FROM m ORDER BY rnk""".stripMargin,
    // highestCurrent: newest in-window point per metric (arg_max — the
    // compacted store holds one value per (metric, ts)), top-3
    "series_highest_current" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, arg_max(value, ts) AS current_value,
         |         max(ts) AS current_ts
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT * FROM (
         |   SELECT CAST(row_number() OVER
         |            (ORDER BY current_value DESC, metric) AS BIGINT) AS rnk,
         |          metric, current_ts, current_value
         |   FROM m)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // lowestAverage: micro-int means ranked ASC, bottom-3
    "series_lowest_average" ->
      s"""$PtsCte, m AS (
         |  SELECT metric,
         |         sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |           / count(value) / 1e6 AS avg_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT * FROM (
         |   SELECT CAST(row_number() OVER (ORDER BY avg_value, metric)
         |            AS BIGINT) AS rnk,
         |          metric, avg_value
         |   FROM m)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // lowestCurrent: the highestCurrent arg_max pick, rank flipped ASC
    "series_lowest_current" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, arg_max(value, ts) AS current_value,
         |         max(ts) AS current_ts
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT * FROM (
         |   SELECT CAST(row_number() OVER
         |            (ORDER BY current_value, metric) AS BIGINT) AS rnk,
         |          metric, current_ts, current_value
         |   FROM m)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // highestMax: in-window peak per metric, top-3, comparison-only
    "series_highest_max" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, max(value) AS max_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT * FROM (
         |   SELECT CAST(row_number() OVER
         |            (ORDER BY max_value DESC, metric) AS BIGINT) AS rnk,
         |          metric, max_value
         |   FROM m)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // countSeries: per-ts present count on the sparse store, grid slots
    // with no series read 0
    "series_count" ->
      s"""$PtsCte, c AS (
         |  SELECT ts, count(*) AS n_series
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY ts)
         | SELECT g.ts, coalesce(c.n_series, 0) AS n_series
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN c USING (ts) ORDER BY ts""".stripMargin,
    // isNonNull: dense grid, 1/0 null-test flag
    "series_is_nonnull" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        CASE WHEN value IS NOT NULL
         |             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |          AS nonnull
         | FROM grid ORDER BY ts""".stripMargin,
    // sortByName + limit: first-2-by-name metrics emit their grids
    "series_limit" ->
      s"""$PtsCte, $MetaCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, row_number() OVER (ORDER BY metric) AS rnk
         |    FROM meta)
         |  WHERE rnk <= 2),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // aliasByNode: rename every grid to its node-1 path segment
    // consolidateBy: point-budget re-bucket (169 slots / 60 points →
    // 3-slot buckets of 10800 s) with the chosen function
    "series_consolidate_by" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts
         |             WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts - ((ts - 1704412800) % 10800) AS ts,
         |        count(vm) AS n_slots, max(value) AS v
         | FROM grid GROUP BY 1 ORDER BY ts""".stripMargin,
    // aliasSub: the oracle's \1 backref must capture exactly what
    // Spark's $1 does — same regex, same anchored single match
    "series_alias_sub" ->
      s"""$PtsCte, $MetaCte, g AS (
         |  SELECT m.metric, t.ts
         |  FROM (SELECT metric FROM meta) m CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT regexp_replace(g.metric, '^events\\.(.*)$$',
         |          'metrics.\\1.rate') AS alias, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY alias, ts""".stripMargin,
    // smartSummarize: buckets anchored at the RAW from (1704414600 —
    // deliberately 1800 s off the step grid), one requested aggregate;
    // DuckDB's % is sign-of-dividend, hence the double-mod floor form
    "series_smart_summarize" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts
         |             WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts - (((ts - 1704414600) % 14400) + 14400) % 14400 AS ts,
         |        count(vm) AS n_slots,
         |        sum(vm) * 1.0 / count(vm) / 1e6 AS v
         | FROM grid GROUP BY 1 ORDER BY ts""".stripMargin,
    "series_alias_by_node" ->
      s"""$PtsCte, $MetaCte, g AS (
         |  SELECT m.metric, t.ts
         |  FROM (SELECT metric FROM meta) m CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT string_split(g.metric, '.')[2] AS alias, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY alias, ts""".stripMargin,
    // fallbackSeries: the oracle REPLAYS the empty-primary decision
    // (NOT EXISTS gate), so a fixture where the primary matched would
    // flip both engines together
    "series_fallback" ->
      s"""$PtsCte, $MetaCte, prim AS (
         |  SELECT metric FROM meta WHERE metric LIKE 'events.refund%'),
         |kept AS (
         |  SELECT metric FROM prim
         |  UNION ALL
         |  SELECT metric FROM meta
         |  WHERE metric = 'events.purchase'
         |    AND NOT EXISTS (SELECT 1 FROM prim)),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // useSeriesAbove: max-gated regex rename, only existing rewrites
    // served, survivors emit fetch grids
    "series_use_series_above" ->
      s"""$PtsCte, $MetaCte, passed AS (
         |  SELECT metric FROM pts
         |  WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric HAVING max(value) > 300.0),
         |served AS (
         |  SELECT DISTINCT regexp_replace(metric, 'click', 'view') AS metric
         |  FROM passed),
         |kept AS (
         |  SELECT m.metric FROM meta m JOIN served s ON m.metric = s.metric),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // averageOutsidePercentile: nearest-rank [p20, p80] band over the
    // per-metric means; band-edge means are OUTSIDE (graphite's
    // `not low < avg < high`); survivors emit fetch_pattern grids
    "series_average_outside_percentile" ->
      s"""$PtsCte, m AS (
         |  SELECT metric,
         |         sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |           / count(value) / 1e6 AS avg_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric),
         |r AS (
         |  SELECT metric, avg_value,
         |         CAST(row_number() OVER (ORDER BY avg_value, metric)
         |           AS BIGINT) AS r,
         |         count(*) OVER () AS cnt
         |  FROM m),
         |band AS (
         |  SELECT max(CASE WHEN r = ceil(0.2 * cnt) THEN avg_value END)
         |           AS band_lo,
         |         max(CASE WHEN r = ceil(0.8 * cnt) THEN avg_value END)
         |           AS band_hi
         |  FROM r),
         |kept AS (
         |  SELECT metric FROM m, band
         |  WHERE avg_value <= band_lo OR avg_value >= band_hi),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // timeStack: shift-list x grid joined once to the pruned scan on
    // the shifted slot key, values copied
    "series_time_stack" ->
      s"""$PtsCte, sh AS (SELECT s AS shift_days FROM range(0, 4) t(s)),
         |g AS (
         |  SELECT sh.shift_days, t.ts,
         |         t.ts - sh.shift_days * 86400 AS src_ts
         |  FROM sh CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.shift_days, g.ts, p.value
         | FROM g LEFT JOIN
         |   (SELECT ts AS src_ts, value FROM pts
         |    WHERE metric = 'events.purchase') p USING (src_ts)
         | ORDER BY shift_days, ts""".stripMargin,
    // list-form divideSeries: all-metric grid over the divisor grid by
    // ts; zero/null divisor -> null ratio (safeDiv), one IEEE division
    "series_divide_multi" ->
      s"""$PtsCte, $MetaCte, g AS (
         |  SELECT m.metric, t.ts
         |  FROM (SELECT metric FROM meta) m
         |  CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t),
         |grid AS (
         |  SELECT g.metric, g.ts, p.value
         |  FROM g LEFT JOIN pts p USING (metric, ts)),
         |dv AS (
         |  SELECT ts, value AS div_value FROM grid
         |  WHERE metric = 'events.view')
         | SELECT grid.metric, grid.ts, grid.value, dv.div_value,
         |        CASE WHEN dv.div_value <> 0
         |             THEN grid.value / dv.div_value END AS ratio
         | FROM grid LEFT JOIN dv USING (ts)
         | ORDER BY metric, ts""".stripMargin,
    // weightedAverage: pair products in exact micro-unit longs; a gap
    // on either side of a pair skips the numerator term, a present
    // weight always counts in the denominator (graphite's safeSum of
    // multiplySeries over safeSum of ALL weights)
    "series_weighted_average" ->
      s"""$PtsCte, pairs(metric, pair, role) AS (VALUES
         |   ('events.purchase', 0, 'a'), ('events.view', 0, 'w'),
         |   ('events.signup', 1, 'a'), ('events.click', 1, 'w')),
         |grid AS (
         |  SELECT pr.pair, pr.role, g.ts,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM pairs pr
         |  CROSS JOIN (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN pts p ON p.metric = pr.metric AND p.ts = g.ts),
         |bp AS (
         |  SELECT ts, pair,
         |         max(CASE WHEN role = 'a' THEN vm END) AS va,
         |         max(CASE WHEN role = 'w' THEN vm END) AS vw
         |  FROM grid GROUP BY ts, pair),
         |ag AS (
         |  SELECT ts,
         |         sum(CASE WHEN va IS NOT NULL AND vw IS NOT NULL
         |               THEN va * vw END) AS num,
         |         sum(vw) AS den
         |  FROM bp GROUP BY ts)
         | SELECT ts,
         |        CASE WHEN num IS NOT NULL AND den IS NOT NULL AND den <> 0
         |             THEN floor((num * 1.0 / den / 1e6) * 1e6 + 0.5) / 1e6 END AS wavg
         | FROM ag ORDER BY ts""".stripMargin,
    // ceiling gate: above-threshold slots null out, timeline stays dense
    "series_remove_above_value" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        CASE WHEN value <= 85.0 THEN value END AS gated
         | FROM grid ORDER BY ts""".stripMargin,
    // sortByMinima: per-metric window minimum ranked ASC, name tiebreak
    "series_sort_by_minima" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, min(value) AS min_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT CAST(row_number() OVER (ORDER BY min_value, metric)
         |          AS BIGINT) AS rnk,
         |        metric, min_value
         | FROM m ORDER BY rnk""".stripMargin,
    // currentAbove: newest-point threshold gates the catalog, survivors
    // emit fetch_pattern grids
    "series_current_above" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, arg_max(value, ts) AS current_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE current_value >= 50.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // spike gate: in-window max strictly above 300 keeps the metric
    "series_maximum_above" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, max(value) AS max_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE max_value > 300.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // sparse-series cleanup: present slots / 169 window slots >= 0.92
    "series_remove_empty" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, count(*) AS present
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE present * 1.0 >= 0.92 * 169),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // floor gate (dual): in-window min strictly above 1.0 keeps the metric
    "series_minimum_above" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, min(value) AS min_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE min_value > 1.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // ceiling gate (dual): in-window max at or below 300 keeps the metric
    "series_maximum_below" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, max(value) AS max_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE max_value <= 300.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // mean-below gate (dual of averageAbove, same micro-int mean)
    "series_average_below" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric,
         |           sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |             / count(value) / 1e6 AS mean
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE mean <= 85.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // newest-point-below gate (dual of currentAbove)
    "series_current_below" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, arg_max(value, ts) AS current_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE current_value <= 55.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // trough gate: in-window min at or below 1.0 keeps the metric
    "series_minimum_below" ->
      s"""$PtsCte, kept AS (
         |  SELECT metric FROM (
         |    SELECT metric, min(value) AS min_value
         |    FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |    GROUP BY metric)
         |  WHERE min_value <= 1.0),
         |g AS (
         |  SELECT k.metric, t.ts
         |  FROM kept k CROSS JOIN
         |    (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) t)
         | SELECT g.metric, g.ts, p.value
         | FROM g LEFT JOIN pts p USING (metric, ts)
         | ORDER BY metric, ts""".stripMargin,
    // scaleToSeconds: one constant multiply per slot (60/3600)
    "series_scale_to_seconds" ->
      s"""$PtsCte SELECT g.ts, p.value,
         |        floor((p.value * (60.0 / 3600.0)) * 1e6 + 0.5) / 1e6 AS scaled
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |   USING (ts)
         | ORDER BY ts""".stripMargin,
    // link-function family: exp/sigmoid total, logit None outside (0,1),
    // round at 2 dp; inputs scaled /100 into the stable range
    "series_nonlinear_math" ->
      s"""$PtsCte SELECT g.ts, p.value,
         |        floor((exp(p.value / 100.0)) * 1e6 + 0.5) / 1e6 AS exp_v,
         |        floor((1.0 / (1.0 + exp(-(p.value / 100.0)))) * 1e6 + 0.5) / 1e6 AS sigmoid_v,
         |        CASE WHEN p.value / 100.0 > 0 AND p.value / 100.0 < 1
         |             THEN floor((ln((p.value / 100.0) /
         |                           (1.0 - p.value / 100.0))) * 1e6 + 0.5) / 1e6
         |        END AS logit_v,
         |        round(p.value, 2) AS rounded
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |   USING (ts)
         | ORDER BY ts""".stripMargin,
    // timeSlice: inner [from+2d, from+5d) keeps values, outer rows gap
    "series_time_slice" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        CASE WHEN ts >= 1704585600 AND ts < 1704844800
         |             THEN value END AS sliced
         | FROM grid ORDER BY ts""".stripMargin,
    // pointwise family: scale x2.5, offset -10, invert (zero -> null),
    // pow2, sqrt (negative -> null) — literal-operand IEEE ops
    "series_pointwise_math" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        value * 2.5 AS scaled,
         |        value + -10.0 AS offset_v,
         |        CASE WHEN value <> 0 THEN 1.0 / value END AS inverted,
         |        value * value AS pow2,
         |        CASE WHEN value >= 0 THEN sqrt(value) END AS sqrt_v
         | FROM grid ORDER BY ts""".stripMargin,
    // CCNet-style LM gate: per-doc mean token NLL in integer micro-nats
    // (the ccnetDocScores definition, shared with ccnet_buckets and the
    // doc_ccnet index table), ppl = exp(nll), keep cut on the INTEGER
    // score
    "perplexity_filter" -> PerplexityFilterSql,
    // the same gate served from the persisted doc_ccnet score table —
    // identical output contract
    "index_perplexity_filter" -> PerplexityFilterSql,
    // trailing 12-slot mean ± 2σ bands: n/Σv/Σv² exact integer window
    // sums in milli-units, then one fixed IEEE op sequence both engines
    // replicate — the unrounded band comparison agrees bit-for-bit
    "series_bands" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS vk
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |wn AS (
         |  SELECT ts, value,
         |         count(vk) OVER w AS n,
         |         CAST(sum(vk) OVER w AS BIGINT) AS s1,
         |         CAST(sum(vk * vk) OVER w AS BIGINT) AS s2
         |  FROM grid
         |  WINDOW w AS (ORDER BY ts ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
         |b AS (
         |  SELECT ts, value,
         |         CAST(s1 AS DOUBLE) / n / 1e3 AS mean,
         |         CASE WHEN n > 1
         |              THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n / 1e3
         |         END AS sd
         |  FROM wn),
         |c AS (
         |  SELECT ts, value, mean, sd,
         |         mean + 2.0 * sd AS upper, mean - 2.0 * sd AS lower
         |  FROM b)
         | SELECT ts, value, floor((mean) * 1e6 + 0.5) / 1e6 AS mean, floor((sd) * 1e6 + 0.5) / 1e6 AS sd,
         |        floor((upper) * 1e6 + 0.5) / 1e6 AS upper, floor((lower) * 1e6 + 0.5) / 1e6 AS lower,
         |        (value IS NOT NULL AND sd IS NOT NULL AND
         |         (value > upper OR value < lower)) AS aberrant
         | FROM c ORDER BY ts""".stripMargin,
    // bounded forward-fill: values are copied, never computed — exact
    "series_keep_last" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        last_value(value IGNORE NULLS) OVER
         |          (ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         |          AS filled
         | FROM grid ORDER BY ts""".stripMargin,
    // running total via integer micro-unit accumulation (a cumulative
    // double sum's order differs between engines), one closing division
    "series_integral" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        sum(vm) OVER (ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e6
         |          AS integral
         | FROM grid ORDER BY ts""".stripMargin,
    // divideSeries: both grids left-joined onto the slot range; ratio is
    // one IEEE division + round(6), null on gaps / zero divisor
    "series_divide" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, a.value AS dividend, b.value AS divisor
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') a
         |    USING (ts)
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') b
         |    USING (ts))
         | SELECT ts, dividend, divisor,
         |        CASE WHEN divisor <> 0
         |             THEN floor((dividend / divisor) * 1e6 + 0.5) / 1e6 END AS ratio
         | FROM grid ORDER BY ts""".stripMargin,
    // Pearson r: exact HUGEINT micro-unit moment sums (mirroring Spark's
    // DECIMAL(38,0)), identical cast-to-double + sqrt closing sequence
    "series_correlation" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, a.value AS va, b.value AS vb
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') a
         |    USING (ts)
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') b
         |    USING (ts)),
         |m AS (
         |  SELECT CAST(floor(va * 1e6 + 0.5) AS HUGEINT) AS am,
         |         CAST(floor(vb * 1e6 + 0.5) AS HUGEINT) AS bm
         |  FROM grid WHERE va IS NOT NULL AND vb IS NOT NULL),
         |s AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(am) AS sa, sum(bm) AS sb,
         |         sum(am * bm) AS sab, sum(am * am) AS saa, sum(bm * bm) AS sbb
         |  FROM m)
         | SELECT 'events.purchase' AS metric_a, 'events.view' AS metric_b,
         |        CAST(n AS BIGINT) AS n_slots,
         |        floor((CAST(n * sab - sa * sb AS DOUBLE)
         |          / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
         |                 * CAST(n * sbb - sb * sb AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS r
         | FROM s""".stripMargin,
    // integralByInterval: the integral window partitioned by the
    // window-start-anchored 4h bucket
    "series_integral_by_interval" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm,
         |         g.ts - ((g.ts - 1704412800) % 14400) AS bucket
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        sum(vm) OVER (PARTITION BY bucket ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e6
         |          AS integral
         | FROM grid ORDER BY ts""".stripMargin,
    // day-over-day overlay: the shifted read window is
    // [align(From-86400), alignUntil(Until-86400)) = [1704326400, 1704934800)
    "series_time_shift" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |sh AS (
         |  SELECT ts + 86400 AS ts, value AS value_shifted
         |  FROM pts
         |  WHERE metric = 'events.purchase'
         |    AND ts >= 1704326400 AND ts < 1704934800)
         | SELECT g.ts, g.value, sh.value_shifted,
         |        g.value - sh.value_shifted AS delta
         | FROM grid g LEFT JOIN sh USING (ts) ORDER BY ts""".stripMargin,
    // top-n metrics by in-window mean; micro-unit sums so near-tied ranks
    // cannot flip on float accumulation order; ties break on metric name
    "series_top_metrics" ->
      s"""$PtsCte, m AS (
         |  SELECT metric,
         |         sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |           / count(value) / 1e6 AS avg_value
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         |  GROUP BY metric)
         | SELECT * FROM (
         |   SELECT CAST(row_number() OVER (ORDER BY avg_value DESC, metric)
         |            AS BIGINT) AS rnk,
         |          metric, avg_value
         |   FROM m)
         | WHERE rnk <= 3 ORDER BY rnk""".stripMargin,
    // exact sort-based per-metric quantiles over the window — the same
    // rank/interpolation chain as doc_length_quantiles
    "series_percentiles" ->
      s"""$PtsCte, ranked AS (
         |  SELECT metric, value,
         |         row_number() OVER (PARTITION BY metric ORDER BY value) - 1 AS rn,
         |         count(*) OVER (PARTITION BY metric) AS n
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200),
         |targets AS (
         |  SELECT DISTINCT metric, n, p, p * (n - 1) AS h,
         |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
         |  FROM ranked, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
         |                       (CAST(0.99 AS DOUBLE))) pv(p))
         | SELECT t.metric, t.p,
         |        floor((CAST(rl.value AS DOUBLE) +
         |              CAST(rh.value - rl.value AS DOUBLE) *
         |              (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS q
         | FROM targets t
         | JOIN ranked rl ON rl.metric = t.metric AND rl.rn = t.lo
         | JOIN ranked rh ON rh.metric = t.metric AND rh.rn = t.hi
         | ORDER BY t.metric, t.p""".stripMargin,
    // least-squares per metric: five exact-integer regression sums, the
    // same closing division sequence in both engines
    "series_linreg" ->
      s"""$PtsCte, m AS (
         |  SELECT metric,
         |         CAST((ts - 1704412800) // 3600 AS BIGINT) AS x,
         |         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200),
         |g AS (
         |  SELECT metric, count(*) AS n, sum(x) AS sx, sum(vm) AS sy,
         |         sum(x * x) AS sxx, sum(x * vm) AS sxy
         |  FROM m GROUP BY metric),
         |s AS (
         |  SELECT metric, n, sx, sy,
         |         (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) AS slope_m
         |  FROM g)
         | SELECT metric, n,
         |        floor((slope_m / 1e6) * 1e6 + 0.5) / 1e6 AS slope_per_slot,
         |        floor((slope_m / 1e6 / 3600.0) * 1e9 + 0.5) / 1e9 AS slope_per_s,
         |        floor(((sy - slope_m * sx) / n / 1e6) * 1e6 + 0.5) / 1e6 AS intercept
         | FROM s ORDER BY metric""".stripMargin,
    // trailing sample stddev in milli-unit integer sums (squared sums
    // must stay exact in a long), one closing sqrt
    "series_stdev" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS km
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |wn AS (
         |  SELECT ts, value,
         |         count(km) OVER w AS n, sum(km) OVER w AS s1,
         |         sum(km * km) OVER w AS s2
         |  FROM grid
         |  WINDOW w AS (ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         | SELECT ts, value,
         |        CASE WHEN n >= 2 THEN
         |          floor((sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 1e3) * 1e6 + 0.5) / 1e6 END AS stdev
         | FROM wn ORDER BY ts""".stripMargin,
    // trailing-6 prior-slot z-score: the same integer milli-unit moment
    // sums as series_stdev, baseline excludes the current slot, one
    // closing double expression in identical operation order
    "series_zscore" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e3 + 0.5) AS BIGINT) AS km
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |wn AS (
         |  SELECT ts, value, km,
         |         count(km) OVER w AS n, sum(km) OVER w AS s1,
         |         sum(km * km) OVER w AS s2
         |  FROM grid
         |  WINDOW w AS (ORDER BY ts ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
         |sd AS (
         |  SELECT ts, value, km, n, s1,
         |         CASE WHEN n >= 2 THEN
         |           sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 1e3
         |         END AS sd
         |  FROM wn),
         |z AS (
         |  SELECT ts, value,
         |         CASE WHEN km IS NOT NULL AND sd > 0 THEN
         |           floor(((km / 1e3 - s1 * 1.0 / n / 1e3) / sd) * 1e6 + 0.5) / 1e6
         |         END AS z
         |  FROM sd)
         | SELECT ts, value, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 2.0 END AS anomaly
         | FROM z ORDER BY ts""".stripMargin,
    // Theil–Sen: slopes from integer deltas, median as an order
    // statistic with the doubled-middle-sum trick
    "series_theil_sen" ->
      s"""$PtsCte, grid AS (
         |  SELECT CAST((g.ts - 1704412800) // 3600 AS BIGINT) AS x,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |sl AS (
         |  SELECT (b.vm - a.vm) * 1.0 / (b.x - a.x) / 1e6 AS slope
         |  FROM grid a JOIN grid b ON a.x < b.x),
         |m1 AS (SELECT count(*) AS m FROM sl),
         |r1 AS (SELECT slope, row_number() OVER (ORDER BY slope) AS r FROM sl),
         |med AS (
         |  SELECT sum(CASE WHEN n.m % 2 = 1
         |               THEN CASE WHEN r.r = (n.m + 1) // 2
         |                         THEN slope * 2 END
         |               ELSE CASE WHEN r.r = n.m // 2
         |                          OR r.r = n.m // 2 + 1 THEN slope END
         |             END) / 2.0 AS slope, max(n.m) AS n_pairs
         |  FROM r1 r CROSS JOIN m1 n),
         |np AS (SELECT count(*) AS n_points FROM grid)
         | SELECT 'events.purchase' AS metric, np.n_points,
         |        CAST(med.n_pairs AS BIGINT) AS n_pairs,
         |        floor(med.slope * 1e6 + 0.5) / 1e6 AS slope_per_slot
         | FROM med CROSS JOIN np""".stripMargin,
    // ACF: HUGEINT per-lag moment sums (the series_correlation contract,
    // once per lag), guarded against zero denominators
    "series_autocorrelation" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, CAST(floor(p.value * 1e6 + 0.5) AS HUGEINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') p
         |    USING (ts)
         |  WHERE p.value IS NOT NULL),
         |lags AS (SELECT unnest(generate_series(1, 48)) AS lag),
         |pr AS (
         |  SELECT l.lag, a.vm AS am, b.vm AS bm
         |  FROM grid a CROSS JOIN lags l
         |  JOIN grid b ON b.ts = a.ts - l.lag * 3600),
         |m AS (
         |  SELECT lag, CAST(count(*) AS HUGEINT) AS n, sum(am) AS sa,
         |         sum(bm) AS sb, sum(am * bm) AS sab,
         |         sum(am * am) AS saa, sum(bm * bm) AS sbb
         |  FROM pr GROUP BY lag),
         |d AS (
         |  SELECT lag, n, sa, sb, sab,
         |         CAST(n * saa - sa * sa AS DOUBLE) AS d1,
         |         CAST(n * sbb - sb * sb AS DOUBLE) AS d2
         |  FROM m)
         | SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
         |        CASE WHEN d1 > 0 AND d2 > 0 THEN
         |          floor((CAST(n * sab - sa * sb AS DOUBLE) / sqrt(d1 * d2)) * 1e6 + 0.5) / 1e6
         |        END AS r
         | FROM d ORDER BY lag""".stripMargin,
    // pattern read: every matched metric's dense grid in one frame
    // (single-res store → the reconcile is the identity per cell); the
    // store-served face yields the identical answer
    "fetch_pattern" -> FetchPatternSql,
    "fetch_pattern_store" -> FetchPatternSql,
    // CUSUM changepoint: the deviations stay integer (n·vm − total) so
    // the running sum is order-independent; argmax replayed by ORDER BY
    "series_changepoint" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |tot AS (SELECT sum(vm) AS total, count(vm) AS n FROM grid),
         |sc AS (
         |  SELECT g.ts, g.value, t.n,
         |         sum(CASE WHEN g.vm IS NOT NULL THEN t.n * g.vm - t.total END)
         |           OVER (ORDER BY g.ts ROWS UNBOUNDED PRECEDING) AS csm
         |  FROM grid g CROSS JOIN tot t),
         |pk AS (
         |  SELECT ts AS peak_ts FROM sc WHERE csm IS NOT NULL AND n >= 2
         |  ORDER BY abs(csm) DESC, ts ASC LIMIT 1)
         | SELECT s.ts, s.value,
         |        floor((CASE WHEN s.n >= 1 THEN s.csm * 1.0 / s.n / 1e6 END)
         |              * 1e6 + 0.5) / 1e6 AS cusum,
         |        CASE WHEN s.csm IS NOT NULL AND s.n >= 2
         |             THEN s.ts = p.peak_ts END AS changepoint
         | FROM sc s LEFT JOIN pk p ON TRUE
         | ORDER BY s.ts""".stripMargin,
    // modified z-score: exact order-statistic medians in doubled integer
    // micro-units (even-count median = sum of the two middles, never a
    // float average), one closing double expression
    "series_outlier_mad" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value,
         |         CAST(floor(p.value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') p
         |    USING (ts)),
         |n1 AS (SELECT count(vm) AS n FROM grid),
         |r1 AS (SELECT vm, row_number() OVER (ORDER BY vm, ts) AS r
         |       FROM grid WHERE vm IS NOT NULL),
         |med AS (
         |  SELECT sum(CASE WHEN n.n % 2 = 1
         |               THEN CASE WHEN r.r = (n.n + 1) // 2 THEN vm * 2 END
         |               ELSE CASE WHEN r.r = n.n // 2
         |                          OR r.r = n.n // 2 + 1 THEN vm END
         |             END) AS med2
         |  FROM r1 r CROSS JOIN n1 n),
         |dv AS (
         |  SELECT g.ts, g.value, g.vm, m.med2,
         |         CASE WHEN g.vm IS NOT NULL
         |              THEN abs(g.vm * 2 - m.med2) END AS dev
         |  FROM grid g CROSS JOIN med m),
         |n2 AS (SELECT count(dev) AS n FROM dv),
         |r2 AS (SELECT dev, row_number() OVER (ORDER BY dev, ts) AS r
         |       FROM dv WHERE dev IS NOT NULL),
         |mad AS (
         |  SELECT sum(CASE WHEN n.n % 2 = 1
         |               THEN CASE WHEN r.r = (n.n + 1) // 2 THEN dev * 2 END
         |               ELSE CASE WHEN r.r = n.n // 2
         |                          OR r.r = n.n // 2 + 1 THEN dev END
         |             END) AS mad4
         |  FROM r2 r CROSS JOIN n2 n),
         |zc AS (
         |  SELECT d.ts, d.value,
         |         floor((CASE WHEN d.vm IS NOT NULL AND md.mad4 > 0
         |               THEN 0.6745 * 2 * (d.vm * 2 - d.med2) * 1.0 / md.mad4
         |               END) * 1e6 + 0.5) / 1e6 AS z
         |  FROM dv d CROSS JOIN mad md)
         | SELECT ts, value, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 3.5 END AS outlier
         | FROM zc ORDER BY ts""".stripMargin,
    // Seasonal decomposition: the same integer micro-unit discipline —
    // trend is a windowed integer sum with one closing division, the
    // detrended values are re-quantized before the per-slot mean, so
    // every cross-row accumulation is order-independent integer math
    "series_seasonal_decompose" ->
      s"""$StlCte
         | SELECT ts, value, trend, seasonal, residual
         | FROM dec ORDER BY ts""".stripMargin,
    // STL anomaly: the decompose CTEs trailed by series_zscore-style
    // stats on MILLI-quantized residuals (squared micro sums overflow)
    "series_anomaly_stl" ->
      s"""$StlCte,
         |rq AS (
         |  SELECT ts, value, residual,
         |         CAST(floor(residual * 1e3 + 0.5) AS BIGINT) AS rm
         |  FROM dec),
         |st AS (
         |  SELECT count(rm) AS n, sum(rm) AS s1, sum(rm * rm) AS s2
         |  FROM rq),
         |zz AS (
         |  SELECT r.ts, r.value, r.residual,
         |         CASE WHEN r.rm IS NOT NULL AND s.n >= 2 AND
         |           sqrt((s.n * s.s2 - s.s1 * s.s1) * 1.0 /
         |                (s.n * (s.n - 1))) / 1e3 > 0
         |         THEN floor(((r.rm / 1e3 - s.s1 * 1.0 / s.n / 1e3) /
         |           (sqrt((s.n * s.s2 - s.s1 * s.s1) * 1.0 /
         |                 (s.n * (s.n - 1))) / 1e3)) * 1e6 + 0.5) / 1e6
         |         END AS z
         |  FROM rq r CROSS JOIN st s)
         | SELECT ts, value, residual, z,
         |        CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS anomaly
         | FROM zz ORDER BY ts""".stripMargin,
    // STL strength: integer variance-numerator ratios off the shared
    // decompose CTEs
    "series_stl_strength" ->
      s"""$StlCte,
         |q AS (
         |  SELECT CAST(floor(residual * 1e3 + 0.5) AS BIGINT) AS rm,
         |         CAST(floor((value - seasonal) * 1e3 + 0.5) AS BIGINT)
         |           AS tm,
         |         CAST(floor((value - trend) * 1e3 + 0.5) AS BIGINT) AS sm
         |  FROM dec
         |  WHERE value IS NOT NULL AND trend IS NOT NULL
         |    AND seasonal IS NOT NULL),
         |m AS (
         |  SELECT count(*) AS n,
         |         count(*) * sum(rm * rm) - sum(rm) * sum(rm) AS vr,
         |         count(*) * sum(tm * tm) - sum(tm) * sum(tm) AS vt,
         |         count(*) * sum(sm * sm) - sum(sm) * sum(sm) AS vs
         |  FROM q)
         | SELECT 'events.purchase' AS metric, n,
         |        floor((greatest(0.0, COALESCE(CASE WHEN vt > 0 THEN
         |          1.0 - CAST(vr AS DOUBLE) / CAST(vt AS DOUBLE) END, 0.0))) * 1e6 + 0.5) / 1e6 AS trend_strength,
         |        floor((greatest(0.0, COALESCE(CASE WHEN vs > 0 THEN
         |          1.0 - CAST(vr AS DOUBLE) / CAST(vs AS DOUBLE) END, 0.0))) * 1e6 + 0.5) / 1e6 AS seasonal_strength
         | FROM m""".stripMargin,
    // Holt-Winters: the additive recursion replayed slot by slot in a
    // recursive CTE — power-of-two smoothing constants and a fixed
    // operation order make the doubles bit-identical cross-engine
    "series_holt_winters" -> {
      val lNew = "(0.5 * (g.value - hw.s[(g.i % 24) + 1]) + 0.5 * (hw.l + hw.b))"
      s"""${PtsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |gi AS (
         |  SELECT ts, value,
         |         CAST(row_number() OVER (ORDER BY ts) - 1 AS BIGINT) AS i
         |  FROM grid),
         |hw AS (
         |  SELECT CAST(-1 AS BIGINT) AS i, 0.0::DOUBLE AS l, 0.0::DOUBLE AS b,
         |         list_transform(range(24), x -> 0.0::DOUBLE) AS s,
         |         FALSE AS ini, NULL::DOUBLE AS f
         |  UNION ALL
         |  SELECT g.i,
         |         CASE WHEN g.value IS NULL THEN hw.l
         |              WHEN NOT hw.ini THEN g.value
         |              ELSE $lNew END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.b
         |              ELSE 0.25 * ($lNew - hw.l) + 0.75 * hw.b END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.s
         |              ELSE list_transform(range(1, 25), j ->
         |                CASE WHEN j = (g.i % 24) + 1
         |                     THEN 0.5 * (g.value - $lNew) + 0.5 * hw.s[j]
         |                     ELSE hw.s[j] END) END,
         |         hw.ini OR g.value IS NOT NULL,
         |         CASE WHEN hw.ini
         |              THEN hw.l + hw.b + hw.s[(g.i % 24) + 1] END
         |  FROM hw, gi g WHERE g.i = hw.i + 1)
         | SELECT g.ts, g.value, floor((hw.f) * 1e6 + 0.5) / 1e6 AS forecast
         | FROM hw JOIN gi g USING (i) WHERE i >= 0
         | ORDER BY ts""".stripMargin
    },
    // the per-metric recursion: the same state machine keyed by metric
    // in both the base row set and the recursive join
    "series_holt_winters_multi" -> HwMultiSql,
    // forecast QA: integer micro-unit error sums over the SAME replayed
    // recursion (the multi oracle as a subquery)
    "series_forecast_error" ->
      s"""SELECT metric, count(*) AS n,
         |       floor(sum(em) * 1.0 / count(*) / 1e6 * 1e6 + 0.5) / 1e6
         |         AS mae,
         |       CASE WHEN sum(avm) > 0
         |         THEN floor(sum(em) * 1.0 / sum(avm) * 1e6 + 0.5) / 1e6
         |         END AS wape
         | FROM (
         |   SELECT metric,
         |          abs(CAST(floor(value * 1e6 + 0.5) AS BIGINT)
         |            - CAST(floor(forecast * 1e6 + 0.5) AS BIGINT)) AS em,
         |          abs(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS avm
         |   FROM ($HwMultiSql) h
         |   WHERE value IS NOT NULL AND forecast IS NOT NULL)
         | GROUP BY metric ORDER BY metric""".stripMargin,
    // the same recursion also carrying the per-season-slot deviation
    // list; bands/aberration from the PRIOR deviation, one fixed
    // closing expression
    "series_holt_winters_bands" -> {
      val lNew = "(0.5 * (g.value - hw.s[(g.i % 24) + 1]) + 0.5 * (hw.l + hw.b))"
      val fPrior = "(hw.l + hw.b + hw.s[(g.i % 24) + 1])"
      s"""${PtsCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts)),
         |gi AS (
         |  SELECT ts, value,
         |         CAST(row_number() OVER (ORDER BY ts) - 1 AS BIGINT) AS i
         |  FROM grid),
         |hw AS (
         |  SELECT CAST(-1 AS BIGINT) AS i, 0.0::DOUBLE AS l, 0.0::DOUBLE AS b,
         |         list_transform(range(24), x -> 0.0::DOUBLE) AS s,
         |         list_transform(range(24), x -> 0.0::DOUBLE) AS dv,
         |         FALSE AS ini, NULL::DOUBLE AS f, NULL::DOUBLE AS dev
         |  UNION ALL
         |  SELECT g.i,
         |         CASE WHEN g.value IS NULL THEN hw.l
         |              WHEN NOT hw.ini THEN g.value
         |              ELSE $lNew END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.b
         |              ELSE 0.25 * ($lNew - hw.l) + 0.75 * hw.b END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.s
         |              ELSE list_transform(range(1, 25), j ->
         |                CASE WHEN j = (g.i % 24) + 1
         |                     THEN 0.5 * (g.value - $lNew) + 0.5 * hw.s[j]
         |                     ELSE hw.s[j] END) END,
         |         CASE WHEN g.value IS NULL OR NOT hw.ini THEN hw.dv
         |              ELSE list_transform(range(1, 25), j ->
         |                CASE WHEN j = (g.i % 24) + 1
         |                     THEN 0.5 * abs(g.value - $fPrior) + 0.5 * hw.dv[j]
         |                     ELSE hw.dv[j] END) END,
         |         hw.ini OR g.value IS NOT NULL,
         |         CASE WHEN hw.ini THEN $fPrior END,
         |         CASE WHEN hw.ini THEN hw.dv[(g.i % 24) + 1] END
         |  FROM hw, gi g WHERE g.i = hw.i + 1),
         |bands AS (
         |  SELECT g.ts, g.value, hw.f, hw.dev,
         |         hw.f - 3.0 * hw.dev AS lo, hw.f + 3.0 * hw.dev AS hi
         |  FROM hw JOIN gi g USING (i) WHERE i >= 0)
         | SELECT ts, value, floor((f) * 1e6 + 0.5) / 1e6 AS forecast,
         |        floor((lo) * 1e6 + 0.5) / 1e6 AS lower, floor((hi) * 1e6 + 0.5) / 1e6 AS upper,
         |        floor((CASE WHEN value IS NULL OR f IS NULL THEN NULL
         |                   WHEN value > hi THEN value - hi
         |                   WHEN value < lo THEN value - lo
         |                   ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS aberration
         | FROM bands ORDER BY ts""".stripMargin
    },
    // linear interior-gap fill: ignore-null struct windows carry the
    // nearest non-gap neighbors; the fill is one double expression in
    // identical operation order (long/long division is double in both)
    "series_interpolate" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.error') p
         |    USING (ts)),
         |nb AS (
         |  SELECT ts, value,
         |         last_value(CASE WHEN value IS NOT NULL THEN
         |             struct_pack(t := ts, v := value) END IGNORE NULLS)
         |           OVER (ORDER BY ts
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |           AS p,
         |         first_value(CASE WHEN value IS NOT NULL THEN
         |             struct_pack(t := ts, v := value) END IGNORE NULLS)
         |           OVER (ORDER BY ts
         |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
         |           AS nx
         |  FROM grid),
         |f AS (
         |  SELECT ts, value,
         |         CASE WHEN value IS NOT NULL THEN value
         |              WHEN p IS NOT NULL AND nx IS NOT NULL THEN
         |                p.v + (nx.v - p.v) * ((ts - p.t) / (nx.t - p.t))
         |         END AS interp
         |  FROM nb)
         | SELECT ts, value, interp,
         |        (value IS NULL AND interp IS NOT NULL) AS filled
         | FROM f ORDER BY ts""".stripMargin,
    // binary-weight EWMA: explicit lag taps with power-of-two weights —
    // exact integer numerator/denominator in both engines
    "series_ewma" -> EwmaSql,
    "series_ewma_wide" -> EwmaWideSql,
    // wildcard rollup on the path's root segment: micro-unit cell sums
    "series_group_by_node" ->
      s"""$PtsCte SELECT string_split(metric, '.')[1] AS node, ts,
         |        count(*) AS n_series,
         |        sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) / 1e6 AS value
         | FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         | GROUP BY 1, 2 ORDER BY node, ts""".stripMargin,
    // groupByNodes(avg, 1, 0): caller-order multi-node key, per-cell
    // micro-int means (the lowestAverage division sequence)
    "series_group_by_nodes" ->
      s"""$PtsCte SELECT string_split(metric, '.')[2] || '.' ||
         |          string_split(metric, '.')[1] AS node, ts,
         |        count(*) AS n_series,
         |        sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) * 1.0
         |          / count(value) / 1e6 AS value
         | FROM pts WHERE ts >= 1704412800 AND ts < 1705021200
         | GROUP BY 1, 2 ORDER BY node, ts""".stripMargin,
    // trailing median of copied values; DuckDB's windowed median
    // interpolates even counts identically ((lo+hi)/2)
    "series_moving_median" ->
      s"""$PtsCte, grid AS (
         |  SELECT g.ts, p.value
         |  FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         |  LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.purchase') p
         |    USING (ts))
         | SELECT ts, value,
         |        median(value) OVER
         |          (ORDER BY ts ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         |          AS median
         | FROM grid ORDER BY ts""".stripMargin,
    // removeAbovePercentile: the series_percentiles rank/interpolation
    // chain at p=0.9, joined back as the per-metric gate
    "series_clip_percentile" ->
      s"""$PtsCte, win AS (
         |  SELECT metric, ts, value FROM pts
         |  WHERE ts >= 1704412800 AND ts < 1705021200),
         |ranked AS (
         |  SELECT metric, value,
         |         row_number() OVER (PARTITION BY metric ORDER BY value) - 1
         |           AS rn,
         |         count(*) OVER (PARTITION BY metric) AS n
         |  FROM win),
         |targets AS (
         |  SELECT DISTINCT metric, n, p, p * (n - 1) AS h,
         |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
         |  FROM ranked, (VALUES (CAST(0.9 AS DOUBLE))) pv(p)),
         |thr AS (
         |  SELECT t.metric,
         |         floor((CAST(rl.value AS DOUBLE) +
         |               CAST(rh.value - rl.value AS DOUBLE) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS threshold
         |  FROM targets t
         |  JOIN ranked rl ON rl.metric = t.metric AND rl.rn = t.lo
         |  JOIN ranked rh ON rh.metric = t.metric AND rh.rn = t.hi)
         | SELECT w.metric, w.ts, w.value, th.threshold
         | FROM win w JOIN thr th ON th.metric = w.metric
         | WHERE w.value <= th.threshold
         | ORDER BY w.metric, w.ts""".stripMargin,
    // per-slot share of the all-metric total, integer micro-unit totals
    "series_as_percent" ->
      s"""$PtsCte, m AS (
         |  SELECT metric, ts, value,
         |         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
         |  FROM pts WHERE ts >= 1704412800 AND ts < 1705021200)
         | SELECT metric, ts, value,
         |        floor((vm * 100.0 / sum(vm) OVER (PARTITION BY ts)) * 1e6 + 0.5) / 1e6 AS pct
         | FROM m ORDER BY metric, ts""".stripMargin,
    "has_data_interval" ->
      s"""$PtsCte SELECT (min(ts) < 1705017600 AND max(ts) + 3600 > 1704412800)
         |   AS has_data
         | FROM pts WHERE metric = 'events.error'""".stripMargin,
    "fetch_range_multires" ->
      multiresReadSql("events.purchase", "sum(value)", dense = false),
    "fetch_range_multires_last" ->
      multiresReadSql("events.signup", "arg_max(value, ts)", dense = false),
    "store_check" ->
      s"""$MultiresStoreCtes,
         |cells AS (
         |  SELECT metric, step, ts, count(*) AS cnt
         |  FROM store GROUP BY metric, step, ts),
         |fl AS (
         |  SELECT metric, cnt - 1 AS dup_rows,
         |         CASE WHEN ts % step != 0 THEN 1 ELSE 0 END AS misaligned,
         |         CASE WHEN ts < max(ts + step) OVER (
         |                PARTITION BY metric ORDER BY ts, step
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |              THEN 1 ELSE 0 END AS overlap
         |  FROM cells)
         | SELECT metric, CAST(sum(dup_rows) AS BIGINT) AS n_dup_rows,
         |        CAST(sum(misaligned) AS BIGINT) AS n_misaligned,
         |        CAST(sum(overlap) AS BIGINT) AS n_overlap
         | FROM fl GROUP BY metric ORDER BY metric""".stripMargin,
    "densify_grid_multires" ->
      multiresReadSql("events.view", "avg(value)", dense = true),
    "agg_average" ->
      s"""$PtsCte SELECT metric, floor((avg(value)) * 1e6 + 0.5) / 1e6 AS agg_value FROM pts
         | WHERE ts >= 1704412800 AND ts < 1705017600
         | GROUP BY metric ORDER BY metric""".stripMargin,
    "agg_sum" ->
      s"""$PtsCte SELECT metric, floor((sum(value)) * 1e6 + 0.5) / 1e6 AS agg_value FROM pts
         | WHERE ts >= 1704412800 AND ts < 1705017600
         | GROUP BY metric ORDER BY metric""".stripMargin,
    "agg_min" ->
      s"""$PtsCte SELECT metric, min(value) AS agg_value FROM pts
         | WHERE ts >= 1704412800 AND ts < 1705017600
         | GROUP BY metric ORDER BY metric""".stripMargin,
    "agg_max" ->
      s"""$PtsCte SELECT metric, max(value) AS agg_value FROM pts
         | WHERE ts >= 1704412800 AND ts < 1705017600
         | GROUP BY metric ORDER BY metric""".stripMargin,
    "agg_last" ->
      s"""$PtsCte SELECT metric, arg_max(value, ts) AS agg_value FROM pts
         | WHERE ts >= 1704412800 AND ts < 1705017600
         | GROUP BY metric ORDER BY metric""".stripMargin,
    "aggregate_series" ->
      s"""$PtsCte SELECT ts - (ts % 14400) AS ts, floor((avg(value)) * 1e6 + 0.5) / 1e6 AS value
         | FROM pts
         | WHERE metric = 'events.click' AND ts >= 1704412800 AND ts < 1705017600
         | GROUP BY ts - (ts % 14400) ORDER BY ts""".stripMargin,
    "merge_series" ->
      s"""$PtsCte SELECT g.ts, coalesce(a.value, b.value) AS value
         | FROM (SELECT ts FROM range(1704412800, 1705021200, 3600) t(ts)) g
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.click') a
         |   USING (ts)
         | LEFT JOIN (SELECT ts, value FROM pts WHERE metric = 'events.view') b
         |   USING (ts)
         | ORDER BY g.ts""".stripMargin,
    "compact_dedup" ->
      s"$PtsCte SELECT metric, ts, value FROM pts ORDER BY metric, ts",
    "store_write" ->
      s"""$PtsCte, runs AS (
         |  SELECT metric, ts,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |              OR ts != lag(ts) OVER w + 3600
         |              THEN 1 ELSE 0 END AS new_run
         |  FROM pts WINDOW w AS (PARTITION BY metric ORDER BY ts))
         | SELECT metric, CAST(sum(new_run) AS BIGINT) AS n_runs,
         |        count(*) AS n_points, min(ts) AS first_ts, max(ts) AS last_ts
         | FROM runs GROUP BY metric ORDER BY metric""".stripMargin,
    "xff_rollup" ->
      s"""$PtsCte, $MetaCte
         | SELECT metric, ts, value, known FROM (
         |   SELECT p.metric, p.ts - (p.ts % 86400) AS ts,
         |          count(p.value) AS known,
         |          CASE any_value(m.method)
         |            WHEN 'average' THEN floor((avg(p.value)) * 1e6 + 0.5) / 1e6
         |            WHEN 'sum' THEN floor((sum(p.value)) * 1e6 + 0.5) / 1e6
         |            WHEN 'min' THEN min(p.value)
         |            WHEN 'max' THEN max(p.value)
         |            ELSE arg_max(p.value, p.ts) END AS value,
         |          any_value(m.xff) AS xff
         |   FROM pts p JOIN meta m ON p.metric = m.metric
         |   GROUP BY p.metric, p.ts - (p.ts % 86400)
         | ) WHERE known / 24.0 >= xff
         | ORDER BY metric, ts""".stripMargin,
    "retention_delete" ->
      s"""$PtsCte SELECT metric, count(*) AS surviving, min(ts) AS min_ts
         | FROM pts WHERE ts >= 1705276800
         | GROUP BY metric ORDER BY metric""".stripMargin,
    // rollup dry-run: the same grouped windows, counts only
    "rollup_plan" ->
      s"""$PtsCte, $MetaCte,
         |wins AS (
         |  SELECT p.metric, p.ts - (p.ts % 86400) AS w,
         |         count(p.value) AS known, any_value(m.xff) AS xff
         |  FROM pts p JOIN meta m ON p.metric = m.metric
         |  GROUP BY 1, 2)
         | SELECT metric, CAST(sum(known) AS BIGINT) AS n_fine,
         |        count(*) AS n_windows,
         |        CAST(sum(CASE WHEN known / 24.0 >= xff THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_emitted,
         |        count(*) - CAST(sum(CASE WHEN known / 24.0 >= xff
         |          THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
         |        CASE WHEN sum(CASE WHEN known / 24.0 >= xff THEN 1
         |               ELSE 0 END) > 0
         |          THEN floor((sum(known) * 1.0 /
         |            sum(CASE WHEN known / 24.0 >= xff THEN 1 ELSE 0 END)) * 1e6 + 0.5) / 1e6
         |        END AS reduction
         | FROM wins GROUP BY metric ORDER BY metric""".stripMargin,
    // the three-tier maintenance chain as a CTE cascade: r1 = hourly
    // overflow -> daily (xff-gated, per-metric method), cur1 = kept fine
    // tail + r1, r2 = cur1's daily overflow -> weekly (tier-1 OUTPUT is
    // tier 2's input, as in Maintenance.maintain's sequential pass),
    // final SELECT applies the last band's expiry. Band literals =
    // Maintenance.bands(CascadeNow, CascadeTiers).
    "maintenance_cascade" ->
      s"""$PtsCte, $MetaCte,
         |r1 AS (
         |  SELECT metric, ts, value FROM (
         |    SELECT p.metric, p.ts - (p.ts % 86400) AS ts,
         |           count(p.value) AS known,
         |           CASE any_value(m.method)
         |             WHEN 'average' THEN floor((avg(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'sum' THEN floor((sum(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'min' THEN min(p.value)
         |             WHEN 'max' THEN max(p.value)
         |             ELSE arg_max(p.value, p.ts) END AS value,
         |           any_value(m.xff) AS xff
         |    FROM pts p JOIN meta m ON p.metric = m.metric
         |    WHERE p.ts < 1706400000
         |    GROUP BY p.metric, p.ts - (p.ts % 86400))
         |  WHERE known / 24.0 >= xff),
         |cur1 AS (
         |  SELECT metric, CAST(3600 AS BIGINT) AS step, ts, value
         |  FROM pts WHERE ts >= 1706400000
         |  UNION ALL
         |  SELECT metric, CAST(86400 AS BIGINT) AS step, ts, value FROM r1),
         |r2 AS (
         |  SELECT metric, ts, value FROM (
         |    SELECT c.metric, c.ts - (c.ts % 604800) AS ts,
         |           count(c.value) AS known,
         |           CASE any_value(m.method)
         |             WHEN 'average' THEN floor((avg(c.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'sum' THEN floor((sum(c.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'min' THEN min(c.value)
         |             WHEN 'max' THEN max(c.value)
         |             ELSE arg_max(c.value, c.ts) END AS value,
         |           any_value(m.xff) AS xff
         |    FROM cur1 c JOIN meta m ON c.metric = m.metric
         |    WHERE c.step = 86400 AND c.ts < 1705795200
         |    GROUP BY c.metric, c.ts - (c.ts % 604800))
         |  WHERE known / 7.0 >= xff),
         |cur2 AS (
         |  SELECT metric, step, ts, value FROM cur1
         |  WHERE NOT (step = 86400 AND ts < 1705795200)
         |  UNION ALL
         |  SELECT metric, CAST(604800 AS BIGINT) AS step, ts, value FROM r2)
         | SELECT metric, step, ts, floor((value) * 1e6 + 0.5) / 1e6 AS value FROM cur2
         | WHERE NOT (step = 604800 AND ts < 1704931200)
         | ORDER BY metric, step, ts""".stripMargin,
    // per-node maintenance over the heterogeneous catalog (perNodeMeta):
    // group A (purchase, view) runs the SAME three-tier cascade as
    // maintenance_cascade; group B (click, signup) runs a two-tier
    // ladder (1 h × 96, 1 d × 14) whose bands at CascadeNow are
    // hourly-start 1706313600 and daily-expiry 1705104000
    // (Maintenance.bands(CascadeNow, PerNodeTiersB)); events.error has
    // EMPTY retentions, so its rows pass through unmaintained. The
    // final result is the three-way union.
    "maintenance_per_node" ->
      s"""$PtsCte, $MetaCte,
         |pa AS (SELECT * FROM pts
         |       WHERE metric IN ('events.purchase', 'events.view')),
         |a1 AS (
         |  SELECT metric, ts, value FROM (
         |    SELECT p.metric, p.ts - (p.ts % 86400) AS ts,
         |           count(p.value) AS known,
         |           CASE any_value(m.method)
         |             WHEN 'average' THEN floor((avg(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'sum' THEN floor((sum(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'min' THEN min(p.value)
         |             WHEN 'max' THEN max(p.value)
         |             ELSE arg_max(p.value, p.ts) END AS value,
         |           any_value(m.xff) AS xff
         |    FROM pa p JOIN meta m ON p.metric = m.metric
         |    WHERE p.ts < 1706400000
         |    GROUP BY p.metric, p.ts - (p.ts % 86400))
         |  WHERE known / 24.0 >= xff),
         |acur1 AS (
         |  SELECT metric, CAST(3600 AS BIGINT) AS step, ts, value
         |  FROM pa WHERE ts >= 1706400000
         |  UNION ALL
         |  SELECT metric, CAST(86400 AS BIGINT) AS step, ts, value FROM a1),
         |a2 AS (
         |  SELECT metric, ts, value FROM (
         |    SELECT c.metric, c.ts - (c.ts % 604800) AS ts,
         |           count(c.value) AS known,
         |           CASE any_value(m.method)
         |             WHEN 'average' THEN floor((avg(c.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'sum' THEN floor((sum(c.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'min' THEN min(c.value)
         |             WHEN 'max' THEN max(c.value)
         |             ELSE arg_max(c.value, c.ts) END AS value,
         |           any_value(m.xff) AS xff
         |    FROM acur1 c JOIN meta m ON c.metric = m.metric
         |    WHERE c.step = 86400 AND c.ts < 1705795200
         |    GROUP BY c.metric, c.ts - (c.ts % 604800))
         |  WHERE known / 7.0 >= xff),
         |afin AS (
         |  SELECT metric, step, ts, value FROM acur1
         |  WHERE NOT (step = 86400 AND ts < 1705795200)
         |  UNION ALL
         |  SELECT metric, CAST(604800 AS BIGINT) AS step, ts, value FROM a2
         |  WHERE ts >= 1704931200),
         |pb AS (SELECT * FROM pts
         |       WHERE metric NOT IN ('events.purchase', 'events.view',
         |                            'events.error')),
         |b1 AS (
         |  SELECT metric, ts, value FROM (
         |    SELECT p.metric, p.ts - (p.ts % 86400) AS ts,
         |           count(p.value) AS known,
         |           CASE any_value(m.method)
         |             WHEN 'average' THEN floor((avg(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'sum' THEN floor((sum(p.value)) * 1e6 + 0.5) / 1e6
         |             WHEN 'min' THEN min(p.value)
         |             WHEN 'max' THEN max(p.value)
         |             ELSE arg_max(p.value, p.ts) END AS value,
         |           any_value(m.xff) AS xff
         |    FROM pb p JOIN meta m ON p.metric = m.metric
         |    WHERE p.ts < 1706313600
         |    GROUP BY p.metric, p.ts - (p.ts % 86400))
         |  WHERE known / 24.0 >= xff),
         |bfin AS (
         |  SELECT metric, CAST(3600 AS BIGINT) AS step, ts, value
         |  FROM pb WHERE ts >= 1706313600
         |  UNION ALL
         |  SELECT metric, CAST(86400 AS BIGINT) AS step, ts, value FROM b1
         |  WHERE ts >= 1705104000),
         |cfin AS (
         |  SELECT metric, CAST(3600 AS BIGINT) AS step, ts, value
         |  FROM pts WHERE metric = 'events.error')
         | SELECT metric, step, ts, floor((value) * 1e6 + 0.5) / 1e6 AS value
         | FROM (SELECT * FROM afin UNION ALL SELECT * FROM bfin
         |       UNION ALL SELECT * FROM cfin)
         | ORDER BY metric, step, ts""".stripMargin,
    // —— §2.9 dedup family ——
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS copies FROM documents
        | GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_norm" ->
      s"""SELECT min(doc_id) AS doc_id, count(*) AS copies FROM documents
         | GROUP BY $NormSql ORDER BY doc_id""".stripMargin,
    "dedup_jaccard" -> JaccardSql,
    // per-doc keyphrases: integer micro-unit weight ranking — the index
    // face scores the same persisted counts, same oracle verbatim
    "doc_keyphrases" -> DocKeyphrasesSql,
    "index_doc_keyphrases" -> DocKeyphrasesSql,
    // bigram PMI: exact integer counts, HUGEINT products converted to
    // double once each, ranked on the quantized micro-nat score
    "token_pmi_pairs" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT w[i] AS tok_a, w[i+1] AS tok_b, count(*) AS c_ab
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 1, 0))) AS i) t
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |tk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |uni AS (SELECT tok, count(*) AS cu FROM tk GROUP BY tok),
         |tt AS (SELECT CAST(sum(cu) AS BIGINT) AS t FROM uni),
         |sc AS (
         |  SELECT tok_a, tok_b, c_ab,
         |         CAST(floor(ln(
         |           CAST(c_ab::HUGEINT * t AS DOUBLE) /
         |           CAST(ua.cu::HUGEINT * ub.cu AS DOUBLE)) * 1e6 + 0.5)
         |           AS BIGINT) AS pmi_q
         |  FROM bg JOIN uni ua ON ua.tok = tok_a
         |          JOIN uni ub ON ub.tok = tok_b
         |  CROSS JOIN tt),
         |topk AS (
         |  SELECT * FROM sc ORDER BY pmi_q DESC, tok_a, tok_b LIMIT 20)
         | SELECT tok_a, tok_b, c_ab, floor((pmi_q / 1e6) * 1e6 + 0.5) / 1e6 AS pmi
         | FROM topk ORDER BY tok_a, tok_b""".stripMargin,
    // Heaps' law: cumulative vocab via the first-seen-doc trick
    "vocab_growth" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |wc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
         |n1 AS (SELECT count(DISTINCT doc_id) AS n FROM wc),
         |cp AS (
         |  SELECT doc_id AS cut, r AS n_docs FROM (
         |    SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r
         |    FROM (SELECT DISTINCT doc_id FROM wc)) x CROSS JOIN n1
         |  WHERE (r * 10) // n > ((r - 1) * 10) // n),
         |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl
         |       FROM wc GROUP BY doc_id),
         |tokens AS (
         |  SELECT cut, n_docs, CAST(sum(dl) AS BIGINT) AS tokens
         |  FROM pd CROSS JOIN cp WHERE doc_id <= cut GROUP BY 1, 2),
         |fs AS (SELECT tok, min(doc_id) AS fd FROM wc GROUP BY tok),
         |vc AS (
         |  SELECT cut, count(*) AS vocab
         |  FROM fs CROSS JOIN cp WHERE fd <= cut GROUP BY cut)
         | SELECT t.n_docs, t.cut, t.tokens, v.vocab,
         |        floor((v.vocab * 1.0 / t.tokens) * 1e6 + 0.5) / 1e6 AS ttr
         | FROM tokens t JOIN vc v USING (cut)
         | ORDER BY t.n_docs""".stripMargin,
    // tf-idf cosine: micro-unit weights over the df-capped vocabulary,
    // HUGEINT dot/norm sums, one closing double sequence per pair
    "tfidf_pairs" -> TfidfPairsSql,
    // the index face scores the SAME persisted word counts
    "index_tfidf_pairs" -> TfidfPairsSql,
    // containment: the same exact intersections, normalized per DIRECTION
    // by that side's shingle count — one row per passing direction
    "dedup_containment" ->
      s"""$ShinglesBaseCte,
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |dir AS (
         |  SELECT doc_a AS doc_sub, doc_b AS doc_sup,
         |         inter * 1.0 / sa.ns AS containment
         |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |  UNION ALL
         |  SELECT doc_b AS doc_sub, doc_a AS doc_sup,
         |         inter * 1.0 / sb.ns AS containment
         |  FROM inter JOIN sizes sb ON sb.doc_id = doc_b)
         | SELECT doc_sub, doc_sup, floor((containment) * 1e6 + 0.5) / 1e6 AS containment
         | FROM dir WHERE containment >= 0.8
         | ORDER BY doc_sub, doc_sup""".stripMargin,
    "dedup_simhash" -> SimhashSql,
    // the index-served fingerprint pairs carry the SAME output contract
    // (deterministic per-row fingerprint), so the same oracle proves the
    // doc index's simhash table read path
    "index_simhash_pairs" -> SimhashSql,
    // bucket = first four md5 hex digits mod 20 (matches TextOps.trainSplit)
    "train_split" ->
      s"""WITH b AS (
        |  SELECT lang, n_chars, ${md5BucketSql(4, 20L)} AS bucket
        |  FROM documents)
        | SELECT lang,
        |   CASE WHEN bucket < 18 THEN 'train'
        |        WHEN bucket = 18 THEN 'val' ELSE 'test' END AS split,
        |   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        | FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    // per-shard balance rollup off the same md5-bucket hash family
    "shard_assign" ->
      s"""WITH b AS (
        |  SELECT source, n_chars,
        |         CAST(${md5BucketSql(4, 8L)} AS BIGINT) AS shard
        |  FROM documents)
        | SELECT shard, count(*) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        | FROM b GROUP BY shard ORDER BY shard""".stripMargin,
    "contamination" ->
      s"""$ShinglesCte
         | SELECT j.doc_a, j.doc_b, da.source AS source_a,
         |        db.source AS source_b, floor((j.jaccard) * 1e6 + 0.5) / 1e6 AS jaccard
         | FROM jac j
         | JOIN documents da ON da.doc_id = j.doc_a
         | JOIN documents db ON db.doc_id = j.doc_b
         | WHERE j.jaccard >= 0.9 AND da.source <> db.source
         | ORDER BY doc_a, doc_b""".stripMargin,
    "contamination_matrix" ->
      s"""$ShinglesCte
         | SELECT least(da.source, db.source) AS source_lo,
         |        greatest(da.source, db.source) AS source_hi,
         |        count(*) AS n_pairs
         | FROM jac j
         | JOIN documents da ON da.doc_id = j.doc_a
         | JOIN documents db ON db.doc_id = j.doc_b
         | WHERE j.jaccard >= 0.9 AND da.source <> db.source
         | GROUP BY 1, 2 ORDER BY source_lo, source_hi""".stripMargin,
    // MinHash+LSH verified output == exhaustive jaccard at threshold 0.9
    // (per-pair miss probability ~4e-8 with 16 bands x 4 rows)
    "dedup_minhash_lsh" -> JaccardSql,
    // incremental admission: exhaustive jaccard restricted to pairs with
    // a new-batch member (md5-bucket 20% split); the rejected member is
    // the new doc (the LARGER id when both are new — first arrival keeps)
    "dedup_incremental" -> DedupIncrementalSql,
    "index_dedup_incremental" -> DedupIncrementalSql,
    "dedup_incremental_stats" ->
      s"""$ShinglesCte,
         |nf AS (SELECT doc_id, (${md5BucketSql(4, 10L)} >= 8) AS is_new
         |       FROM documents),
         |rej AS (
         |  SELECT DISTINCT
         |         CASE WHEN fb.is_new THEN j.doc_b ELSE j.doc_a END AS doc_id
         |  FROM jac j
         |  JOIN nf fa ON fa.doc_id = j.doc_a
         |  JOIN nf fb ON fb.doc_id = j.doc_b
         |  WHERE j.jaccard >= 0.9 AND (fa.is_new OR fb.is_new))
         | SELECT d.source, count(*) AS n_new,
         |        CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_rejected,
         |        floor((sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |              * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS reject_ratio
         | FROM documents d
         | JOIN nf f ON f.doc_id = d.doc_id AND f.is_new
         | LEFT JOIN rej r ON r.doc_id = d.doc_id
         | GROUP BY d.source ORDER BY d.source""".stripMargin,
    // the (in_text, in_embed) membership matrix: exhaustive-jaccard text
    // pairs (== the minhash-LSH verified set) full-outer-joined with the
    // LSH+exact-cosine embedding pairs, counted per membership combo
    "dedup_agreement" -> lshPairSql(16, 6, 64, tail =
      s""",${ShinglesCte.replaceFirst("WITH ", "")},
         |tp AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.9),
         |ep AS (SELECT vec_a, vec_b FROM sims WHERE sim >= 0.4),
         |u AS (
         |  SELECT (t.doc_a IS NOT NULL) AS in_text,
         |         (e.vec_a IS NOT NULL) AS in_embed
         |  FROM tp t FULL OUTER JOIN ep e
         |    ON t.doc_a = e.vec_a AND t.doc_b = e.vec_b)
         | SELECT in_text, in_embed, count(*) AS n_pairs FROM u
         | GROUP BY in_text, in_embed ORDER BY in_text, in_embed""".stripMargin),
    // the index-served pairs carry the SAME output contract, so the same
    // exhaustive-jaccard oracle proves the incremental index read path
    "index_minhash_pairs" -> JaccardSql,
    // expected counts recomputed from the raw corpus: a mismatch means a
    // batch write or compaction lost/duplicated index rows
    "index_stats" ->
      s"""$ShinglesBaseCte
         | SELECT * FROM (
         |  SELECT 'buckets' AS table_name,
         |    CAST((SELECT count(DISTINCT doc_id) FROM sh) * 16 AS BIGINT)
         |      AS n_rows
         |  UNION ALL
         |  SELECT 'doc_ccnet', (SELECT count(*) FROM documents)
         |  UNION ALL
         |  SELECT 'emb_assign', (SELECT count(*) FROM embeddings)
         |  UNION ALL
         |  SELECT 'emb_buckets',
         |    CAST((SELECT count(*) FROM embeddings) * 16 AS BIGINT)
         |  UNION ALL
         |  SELECT 'emb_pq_codes',
         |    CAST((SELECT count(*) FROM embeddings) * 32 AS BIGINT)
         |  UNION ALL
         |  SELECT 'mm_phash', (SELECT count(*) FROM documents)
         |  UNION ALL
         |  SELECT 'para_segs',
         |    (SELECT CAST(sum(CAST(ceil(len(string_split($NormSql, ' '))
         |                              / 10.0) AS BIGINT)) AS BIGINT)
         |     FROM documents)
         |  UNION ALL
         |  SELECT 'shingles', (SELECT count(*) FROM sh)
         |  UNION ALL
         |  SELECT 'simhash', (SELECT count(*) FROM documents)
         |  UNION ALL
         |  SELECT 'word_counts',
         |    (SELECT count(*) FROM (
         |       SELECT DISTINCT doc_id, tok FROM (
         |         SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |         FROM documents))))
         | ORDER BY table_name""".stripMargin,
    // exhaustive-jaccard pairs + the reproduced 64-minhash signature
    // table: estimate = matching components / 64 (k/64 is exact binary)
    "minhash_est_error" -> {
      val eqsum = (0 until 64)
        .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
        .mkString("(", " +\n           ", ")")
      s"""$ShinglesCte,
         |$minhashSigCtes
         | SELECT j.doc_a, j.doc_b, floor((j.jaccard) * 1e6 + 0.5) / 1e6 AS jaccard,
         |        floor(($eqsum / 64.0) * 1e6 + 0.5) / 1e6 AS est_jaccard,
         |        floor((abs($eqsum / 64.0
         |          - floor((j.jaccard) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6
         |          AS abs_err
         | FROM jac j
         | JOIN mh a ON a.doc_id = j.doc_a
         | JOIN mh b ON b.doc_id = j.doc_b
         | WHERE j.jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin
    },
    // connected components of the VERIFIED STAR edge graph (the
    // connectivity-scale candidate stream — O(c) edges per LSH bucket,
    // not the O(c²) all-pairs the pair-listing queries need) via a
    // recursive reachability CTE; cluster id = min reachable doc_id (the
    // keeper). The full minhash/band/star pipeline is reproduced in SQL —
    // the engine's hash family is md5-based so both engines compute
    // identical buckets (see minhashStarCtes).
    "dedup_clusters" ->
      s"""${ShinglesBaseCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${minhashStarCtes(0.9)},
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT s AS doc_id, s AS label FROM edges
         |  UNION
         |  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.doc_id),
         |cl AS (SELECT doc_id, min(label) AS cluster_id FROM reach
         |       GROUP BY doc_id)
         | SELECT cluster_id, count(*) AS n_docs FROM cl
         | GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // shingle df histogram: df per distinct shingle, log2 buckets
    "shingle_df_hist" ->
      s"""$ShinglesBaseCte,
         |dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
         | SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bucket,
         |        count(*) AS n_shingles,
         |        CAST(sum(df) AS BIGINT) AS occurrences,
         |        min(df) AS min_df, max(df) AS max_df
         | FROM dfs GROUP BY 1 ORDER BY bucket""".stripMargin,
    // family-size histogram: the clusters CTE + integer bin() buckets
    "dedup_cluster_sizes" ->
      s"""${ShinglesBaseCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${minhashStarCtes(0.9)},
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT s AS doc_id, s AS label FROM edges
         |  UNION
         |  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.doc_id),
         |cl AS (SELECT doc_id, min(label) AS cluster_id FROM reach
         |       GROUP BY doc_id),
         |cs AS (SELECT cluster_id, count(*) AS n_docs FROM cl
         |       GROUP BY cluster_id)
         | SELECT CAST(length(bin(n_docs)) - 1 AS BIGINT) AS bucket,
         |        count(*) AS n_clusters,
         |        CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |        min(n_docs) AS min_size, max(n_docs) AS max_size
         | FROM cs GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the kept corpus: drop every clustered doc that is not its cluster's
    // min id (same star pipeline + recursive reachability as
    // dedup_clusters)
    "dedup_apply" ->
      s"""${ShinglesBaseCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${minhashStarCtes(0.9)},
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT s AS doc_id, s AS label FROM edges
         |  UNION
         |  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.doc_id),
         |nonkeep AS (SELECT doc_id FROM reach
         |            GROUP BY doc_id HAVING doc_id != min(label))
         | SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         | WHERE d.doc_id NOT IN (SELECT doc_id FROM nonkeep)
         | ORDER BY d.doc_id""".stripMargin,
    // the same non-keeper set, rolled up to the per-source removal share
    "dedup_rate_by_source" ->
      s"""${ShinglesBaseCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${minhashStarCtes(0.9)},
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT s AS doc_id, s AS label FROM edges
         |  UNION
         |  SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.doc_id),
         |nonkeep AS (SELECT doc_id FROM reach
         |            GROUP BY doc_id HAVING doc_id != min(label)),
         |base AS (
         |  SELECT d.source, count(*) AS n_docs,
         |         CAST(sum(CASE WHEN nk.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_removed
         |  FROM documents d LEFT JOIN nonkeep nk USING (doc_id)
         |  GROUP BY d.source)
         | SELECT source, n_docs, n_removed,
         |        floor((n_removed * 1.0 / n_docs) * 1e6 + 0.5) / 1e6 AS removal_rate
         | FROM base ORDER BY source""".stripMargin,
    // —— §2.9 text analysis ——
    // PII scan: identical ASCII-conservative patterns on both engines
    // (Java regex and RE2 agree on these constructs match-for-match).
    // Both faces run over the POSITIVE-PATH injected view (the `inj` CTE
    // replays TextOps.piiInjectedDocs bit-for-bit from doc_id): the
    // shipped fixtures contain zero natural matches, so without the
    // injection the redaction logic was only ever proven on the no-op
    // path. Every 7th doc gains an email + IPv4, every 5th a phone.
    "pii_stats" ->
      """WITH inj AS (
        |  SELECT source, doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents),
        |pii AS (
        |  SELECT source,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS em,
        |    len(regexp_extract_all(text,
        |      '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'))::BIGINT AS ph,
        |    len(regexp_extract_all(text,
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS ip
        |  FROM inj)
        | SELECT source, count(*) AS n_docs,
        |        CAST(sum(CASE WHEN em + ph + ip > 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS pii_docs,
        |        floor((sum(CASE WHEN em + ph + ip > 0 THEN 1 ELSE 0 END)
        |          * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS pii_rate,
        |        CAST(sum(em) AS BIGINT) AS emails,
        |        CAST(sum(ph) AS BIGINT) AS phones,
        |        CAST(sum(ip) AS BIGINT) AS ips
        | FROM pii GROUP BY source ORDER BY source""".stripMargin,
    // redaction apply: same proven regexes as pii_stats; the md5 of the
    // sequentially-redacted text pins the replacement output itself —
    // over the same injected positive-path view as pii_stats
    "pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
        |      AS emails,
        |    len(regexp_extract_all(text,
        |      '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'))::BIGINT AS phones,
        |    len(regexp_extract_all(text,
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS ips,
        |    md5(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
        |      'g'),
        |      '\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '[PHONE]', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'))
        |      AS redacted_md5
        |  FROM inj)
        | SELECT doc_id, emails, phones, ips, redacted_md5
        | FROM r WHERE emails + phones + ips > 0
        | ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |   floor((avg(n_chars)) * 1e6 + 0.5) / 1e6 AS avg_chars,
        |   min(n_chars) AS min_chars, max(n_chars) AS max_chars
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "token_count" ->
      """SELECT lang,
        |   CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT)
        |     AS total_tokens,
        |   floor((avg(len(regexp_extract_all(text, '\w+|[^\w\s]')))) * 1e6 + 0.5) / 1e6
        |     AS avg_tokens
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 0)) AS sc0,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 1)) AS sc1,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 2)) AS sc2,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 3)) AS sc3,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 4)) AS sc4
         |  FROM documents)
         | SELECT lang,
         |   CASE WHEN sc0 >= sc1 AND sc0 >= sc2 AND sc0 >= sc3 AND sc0 >= sc4 THEN 'de'
         |        WHEN sc1 >= sc2 AND sc1 >= sc3 AND sc1 >= sc4 THEN 'en'
         |        WHEN sc2 >= sc3 AND sc2 >= sc4 THEN 'es'
         |        WHEN sc3 >= sc4 THEN 'fr'
         |        ELSE 'zh' END AS pred_lang,
         |   count(*) AS n
         | FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    // lang-ID confidence: the same per-token md5 votes as lang_id,
    // micro-averaged per source from exact integer vote sums
    "lang_id_margin" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 0)) AS sc0,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 1)) AS sc1,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 2)) AS sc2,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 3)) AS sc3,
         |    len(list_filter(string_split($NormSql, ' '),
         |        w -> ascii(substr(md5(w), 1, 1)) % 5 = 4)) AS sc4
         |  FROM documents)
         | SELECT source, count(*) AS n_docs,
         |        CAST(sum(greatest(sc0, sc1, sc2, sc3, sc4)) AS BIGINT)
         |          AS top_votes,
         |        CAST(sum(sc0 + sc1 + sc2 + sc3 + sc4) AS BIGINT)
         |          AS total_votes,
         |        floor((sum(greatest(sc0, sc1, sc2, sc3, sc4)) * 1.0 /
         |              sum(sc0 + sc1 + sc2 + sc3 + sc4)) * 1e6 + 0.5) / 1e6 AS confidence
         | FROM scored GROUP BY source ORDER BY source""".stripMargin,
    "quality_score" ->
      """SELECT source, count(*) AS n_docs, floor((avg(
        |   0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0) +
        |   0.3 * (1.0 - length(regexp_replace(text, '[\w\s]', '', 'g'))
        |                / greatest(length(text), 1)) +
        |   0.3 * least(n_chars / 300.0, 1.0))) * 1e6 + 0.5) / 1e6 AS avg_score
        | FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // corpus-unigram LM scoring: mean token NLL per doc under the
    // corpus's own unigram distribution (ln-based — rounded 6 dp on
    // both sides, the tfidf_terms contract), averaged per source
    "unigram_logprob" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS w
        |  FROM documents),
        |dw AS (
        |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, source, w),
        |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf FROM dw GROUP BY w),
        |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM vocab),
        |doc AS (
        |  SELECT doc_id, source,
        |         CAST(floor(sum(c * -ln(cf * 1.0 / n)) / sum(c) * 1000000.0 + 0.5) AS BIGINT) AS nllu
        |  FROM dw JOIN vocab USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, source)
        | SELECT source, count(*) AS n_docs,
        |        floor((CAST(sum(nllu) AS BIGINT)
        |              / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_nll
        | FROM doc GROUP BY source ORDER BY source""".stripMargin,
    // per-source KL vs the corpus unigram mix: exact integer counts into
    // one micro-nat rounding per source
    "source_kl" -> SourceKlSql,
    "index_source_kl" -> SourceKlSql,
    // joint-bigram LM scoring: the unigram_logprob shape over word
    // 2-grams (engine: 8-byte rolling gram ids; oracle: the gram strings
    // — identical count tables barring 64-bit hash collisions)
    "bigram_logprob" ->
      s"""WITH ws AS (
        |  SELECT doc_id, source, string_split($NormSql, ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |         array_to_string(list_slice(w, i, i + 1), ' ') AS s
        |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
        |         greatest(len(w) - 1, 0))) AS i) t),
        |bg AS (
        |  SELECT doc_id, source, s, CAST(count(*) AS BIGINT) AS c
        |  FROM g GROUP BY doc_id, source, s),
        |corpus AS (SELECT s, CAST(sum(c) AS BIGINT) AS cf FROM bg GROUP BY s),
        |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM corpus),
        |doc AS (
        |  SELECT doc_id, source,
        |         CAST(floor(sum(c * -ln(cf * 1.0 / n)) / sum(c) * 1000000.0 + 0.5) AS BIGINT) AS nllu
        |  FROM bg JOIN corpus USING (s) CROSS JOIN tot
        |  GROUP BY doc_id, source)
        | SELECT source, count(*) AS n_docs,
        |        floor((CAST(sum(nllu) AS BIGINT)
        |              / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_nll
        | FROM doc GROUP BY source ORDER BY source""".stripMargin,
    // Gopher rule gate: per-doc stats off the word-count rollup, ratio
    // rules by integer cross-multiplication — all-integer output
    "gopher_rules" -> GopherRulesSql,
    "index_gopher_rules" -> GopherRulesSql,
    // DSIR: md5-bucketed unigram masses split target-vs-rest, Laplace
    // log-ratios, token-mass-weighted per-doc mean in micro-nats
    "dsir_weights" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS w
        |  FROM documents),
        |dw AS (
        |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, source, w),
        |bt AS (
        |  SELECT doc_id, source, ascii(substr(md5(w), 1, 1)) % 16 AS b, c
        |  FROM dw),
        |buckets AS (
        |  SELECT b,
        |         CAST(sum(CASE WHEN source IN ('src0','src1','src2')
        |                       THEN c ELSE 0 END) AS BIGINT) AS nt,
        |         CAST(sum(CASE WHEN source NOT IN ('src0','src1','src2')
        |                       THEN c ELSE 0 END) AS BIGINT) AS nr
        |  FROM bt GROUP BY b),
        |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tn,
        |               CAST(sum(nr) AS BIGINT) AS rn FROM buckets),
        |bw AS (
        |  SELECT b, ln((nt + 1.0) / (tn + 16.0))
        |             - ln((nr + 1.0) / (rn + 16.0)) AS lr
        |  FROM buckets CROSS JOIN tot),
        |doc AS (
        |  SELECT doc_id, source,
        |         CAST(floor(sum(c * lr) / sum(c) * 1000000.0 + 0.5)
        |              AS BIGINT) AS wu
        |  FROM bt JOIN bw USING (b) GROUP BY doc_id, source)
        | SELECT source, count(*) AS n_docs,
        |        floor((CAST(sum(wu) AS BIGINT)
        |              / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_logratio
        | FROM doc GROUP BY source ORDER BY source""".stripMargin,
    // overlapping 64/48 word-window chunking with md5 fingerprints;
    // chunk starts every stride until the end is reached
    "chunk_documents" ->
      s"""WITH w AS (
        |  SELECT doc_id, string_split($NormSql, ' ') AS words
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_words,
        |         1 + CAST(floor((greatest(CAST(len(words) AS BIGINT) - 64,
        |                                  0) + 47) / 48.0) AS BIGINT)
        |           AS n_chunks
        |  FROM w),
        |ch AS (
        |  SELECT doc_id, words,
        |         unnest(range(0, n_chunks)) AS chunk_idx
        |  FROM base)
        | SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_word,
        |        CAST(len(list_slice(words, chunk_idx * 48 + 1,
        |                            chunk_idx * 48 + 64)) AS BIGINT)
        |          AS chunk_words,
        |        md5(array_to_string(list_slice(words, chunk_idx * 48 + 1,
        |                                       chunk_idx * 48 + 64), ' '))
        |          AS chunk_md5
        | FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // within-doc unigram entropy: H = ln(n) - sum(c*ln c)/n per doc
    // (one ln per DISTINCT word), averaged per source
    "doc_entropy" ->
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS w
        |  FROM documents),
        |dw AS (
        |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, source, w),
        |doc AS (
        |  SELECT doc_id, source,
        |         CAST(floor((ln(CAST(sum(c) AS BIGINT)) -
        |               sum(c * ln(c)) / CAST(sum(c) AS BIGINT)) * 1000000.0 + 0.5) AS BIGINT) AS hu
        |  FROM dw GROUP BY doc_id, source)
        | SELECT source, count(*) AS n_docs,
        |        floor((CAST(sum(hu) AS BIGINT)
        |              / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_entropy
        | FROM doc GROUP BY source ORDER BY source""".stripMargin,
    // 13-gram decontamination: distinct word 13-grams per doc, benchmark
    // side reduced to its distinct gram set, shared-gram count per
    // flagged non-benchmark doc
    "contamination_ngram" ->
      s"""WITH ws AS (
        |  SELECT doc_id, source, string_split($NormSql, ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |         array_to_string(list_slice(w, i, i + 12), ' ') AS s
        |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
        |         greatest(len(w) - 12, 0))) AS i) t),
        |bh AS (SELECT DISTINCT s FROM g
        |       WHERE source IN ('src12', 'src18'))
        | SELECT g.doc_id, g.source, CAST(count(*) AS BIGINT) AS n_shared
        | FROM g JOIN bh USING (s)
        | WHERE g.source NOT IN ('src12', 'src18')
        | GROUP BY g.doc_id, g.source
        | ORDER BY g.doc_id""".stripMargin,
    // paragraph-unit decontamination: distinct shared SEGMENTS with any
    // benchmark-source doc (shared session/index)
    "contamination_para" -> ContaminationParaSql,
    "index_contamination_para" -> ContaminationParaSql,
    // bloom-filter decontamination audit: kHash=3 disjoint digest-slice positions
    // mod 8192 over the bench shingle set; flagged = all 3 bits present;
    // exact join alongside proves no-false-negative per doc
    "contamination_bloom" -> ContaminationBloomSql,
    // linear counting: distinct occupied md5 slots + exact distinct
    // users per event type, both exact integers (the estimator's ln is
    // the consumer's, never hash-compared)
    "sketch_linear_count" ->
      s"""WITH u AS (
         |  SELECT event_type, user_id,
         |         ${md5SliceModSql("CAST(user_id AS VARCHAR)", 1, 10, 256L)}
         |           AS pos
         |  FROM events)
         | SELECT event_type, CAST(256 AS BIGINT) AS m_slots,
         |        CAST(count(DISTINCT pos) AS BIGINT) AS n_set,
         |        CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         | FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,
    // HyperLogLog WAU audit: register index = 2 md5 hex digits mod 64,
    // rank = leading-zero hex scan + one nibble CASE (never floating
    // log2); daily register maxima fanned over the trailing window
    // (sketch union = elementwise max), exact rolling distinct alongside
    "sketch_hll_users" ->
      s"""WITH du AS (
         |  SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS day,
         |         user_id
         |  FROM events),
         |h AS (
         |  SELECT day,
         |         ${md5SliceModSql("CAST(user_id AS VARCHAR)", 1, 2, 64L)}
         |           AS reg,
         |         substr(md5(CAST(user_id AS VARCHAR)), 3, 12) AS field
         |  FROM du),
         |r AS (
         |  SELECT day, reg,
         |         length(regexp_extract(field, '^0*')) AS lz,
         |         strpos('0123456789abcdef',
         |           substr(field, length(regexp_extract(field, '^0*')) + 1, 1))
         |           - 1 AS nz
         |  FROM h),
         |rk AS (
         |  SELECT day, reg,
         |         CASE WHEN lz = 12 THEN 49
         |              ELSE 4 * lz
         |                   + (CASE WHEN nz >= 8 THEN 0 WHEN nz >= 4 THEN 1
         |                           WHEN nz >= 2 THEN 2 ELSE 3 END) + 1
         |         END AS rnk
         |  FROM r),
         |daily AS (SELECT day, reg, max(rnk) AS rmax FROM rk
         |          GROUP BY day, reg),
         |merged AS (
         |  SELECT daily.day + i AS day, reg, max(rmax) AS rank_max
         |  FROM daily, unnest(generate_series(0, 6)) AS t(i)
         |  GROUP BY 1, 2),
         |fan AS (
         |  SELECT DISTINCT du.day + i AS day, du.user_id
         |  FROM du, unnest(generate_series(0, 6)) AS t(i)),
         |wau AS (SELECT day, count(*) AS wau_exact FROM fan GROUP BY day),
         |obs AS (SELECT DISTINCT day FROM du)
         | SELECT mg.day, CAST(64 AS BIGINT) AS m_regs,
         |        CAST(mg.reg AS BIGINT) AS reg,
         |        CAST(mg.rank_max AS BIGINT) AS rank_max,
         |        CAST(w.wau_exact AS BIGINT) AS wau_exact
         | FROM merged mg JOIN obs USING (day) JOIN wau w USING (day)
         | ORDER BY mg.day, mg.reg""".stripMargin,
    // DGIM window sketch: closed-form {1,2}-digit bucket decomposition
    // of N (integer shifts + a 41-row level join — never floating
    // log2), reverse-rank join for bucket timestamps, half-the-oldest
    // window estimate vs exact — every number an exact integer
    "sketch_dgim_window" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts) AS ts, event_id FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev
        |      GROUP BY 1),
        |js AS (SELECT unnest(generate_series(0, 40)) AS j),
        |mm AS (SELECT event_type, max(j) AS m
        |       FROM n, js WHERE (1::BIGINT << (j + 1)) - 1 <= n
        |       GROUP BY event_type),
        |dg AS (
        |  SELECT n.event_type, n.n,
        |         n.n - ((1::BIGINT << (mm.m + 1)) - 1) AS r, t.j
        |  FROM n JOIN mm USING (event_type),
        |  LATERAL (SELECT unnest(generate_series(0, mm.m)) AS j) t),
        |bk AS (
        |  SELECT event_type, n, j, (1::BIGINT << j) AS size, c.c
        |  FROM (SELECT event_type, n, j, 1 + ((r >> j) % 2) AS d
        |        FROM dg) d2,
        |  LATERAL (SELECT unnest(generate_series(1, d2.d)) AS c) c),
        |ob AS (
        |  SELECT event_type, n, size,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |              ORDER BY j, c) AS BIGINT) AS b_idx,
        |         CAST(sum(size) OVER (PARTITION BY event_type
        |              ORDER BY j, c ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS cum
        |  FROM bk),
        |rk AS (
        |  SELECT event_type, ts,
        |         CAST(row_number() OVER (PARTITION BY event_type
        |              ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rn
        |  FROM ev),
        |nw AS (SELECT max(ts) AS now_ts FROM ev),
        |bt AS (
        |  SELECT ob.event_type, ob.b_idx, ob.size, ob.n,
        |         rk.ts AS bucket_ts
        |  FROM ob JOIN rk ON rk.event_type = ob.event_type
        |    AND rk.rn = ob.cum - ob.size + 1),
        |wb AS (
        |  SELECT bt.*, (SELECT now_ts FROM nw) - 604800000000000
        |           AS window_start
        |  FROM bt),
        |ag AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN bucket_ts > window_start THEN size
        |                       ELSE 0 END)
        |              - (max(CASE WHEN bucket_ts > window_start THEN size
        |                         ELSE 0 END) // 2) AS BIGINT) AS dgim_est
        |  FROM wb GROUP BY event_type),
        |ex AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_window
        |  FROM ev
        |  WHERE ts > (SELECT now_ts FROM nw) - 604800000000000
        |  GROUP BY event_type)
        | SELECT wb.event_type, wb.b_idx, wb.size, wb.bucket_ts,
        |        CAST(CASE WHEN wb.bucket_ts > wb.window_start THEN 1
        |                  ELSE 0 END AS BIGINT) AS in_window,
        |        wb.n AS n_total,
        |        CAST(wb.window_start AS BIGINT) AS window_start,
        |        ex.exact_window, ag.dgim_est
        | FROM wb JOIN ag USING (event_type) JOIN ex USING (event_type)
        | ORDER BY wb.event_type, wb.b_idx""".stripMargin,
    // HLL set algebra: same hex-decode reg/rank CTEs keyed by event
    // type; union sketch = FULL-join register max, exact cardinalities
    // (left-join + coalesce 0 so a disjoint pair stays) alongside
    "sketch_hll_setops" ->
      s"""WITH du AS (
         |  SELECT DISTINCT event_type, user_id
         |  FROM events WHERE user_id IS NOT NULL),
         |h AS (
         |  SELECT event_type,
         |         ${md5SliceModSql("CAST(user_id AS VARCHAR)", 1, 2, 64L)}
         |           AS reg,
         |         substr(md5(CAST(user_id AS VARCHAR)), 3, 12) AS field
         |  FROM du),
         |r AS (
         |  SELECT event_type, reg,
         |         length(regexp_extract(field, '^0*')) AS lz,
         |         strpos('0123456789abcdef',
         |           substr(field, length(regexp_extract(field, '^0*')) + 1, 1))
         |           - 1 AS nz
         |  FROM h),
         |rk AS (
         |  SELECT event_type, reg,
         |         CASE WHEN lz = 12 THEN 49
         |              ELSE 4 * lz
         |                   + (CASE WHEN nz >= 8 THEN 0 WHEN nz >= 4 THEN 1
         |                           WHEN nz >= 2 THEN 2 ELSE 3 END) + 1
         |         END AS rnk
         |  FROM r),
         |regs AS (SELECT event_type, reg, max(rnk) AS rmax FROM rk
         |         GROUP BY event_type, reg),
         |cnts AS (SELECT event_type, count(*) AS n FROM du
         |         GROUP BY event_type),
         |pairs AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |         a.n AS n_a, b.n AS n_b
         |  FROM cnts a JOIN cnts b ON a.event_type < b.event_type),
         |inter AS (
         |  SELECT x.event_type AS type_a, y.event_type AS type_b,
         |         count(*) AS inter_exact
         |  FROM du x JOIN du y ON x.user_id = y.user_id
         |    AND x.event_type < y.event_type
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT p.type_a, p.type_b, p.n_a, p.n_b,
         |         coalesce(i.inter_exact, 0) AS inter_exact,
         |         p.n_a + p.n_b - coalesce(i.inter_exact, 0) AS union_exact
         |  FROM pairs p LEFT JOIN inter i USING (type_a, type_b)),
         |ra AS (
         |  SELECT p.type_a, p.type_b, g.reg, g.rmax AS rank_a
         |  FROM pairs p JOIN regs g ON g.event_type = p.type_a),
         |rb AS (
         |  SELECT p.type_a, p.type_b, g.reg, g.rmax AS rank_b
         |  FROM pairs p JOIN regs g ON g.event_type = p.type_b),
         |mg AS (
         |  SELECT coalesce(ra.type_a, rb.type_a) AS type_a,
         |         coalesce(ra.type_b, rb.type_b) AS type_b,
         |         coalesce(ra.reg, rb.reg) AS reg,
         |         coalesce(ra.rank_a, 0) AS rank_a,
         |         coalesce(rb.rank_b, 0) AS rank_b
         |  FROM ra FULL JOIN rb
         |    ON ra.type_a = rb.type_a AND ra.type_b = rb.type_b
         |    AND ra.reg = rb.reg)
         | SELECT mg.type_a, mg.type_b, CAST(64 AS BIGINT) AS m_regs,
         |        CAST(mg.reg AS BIGINT) AS reg,
         |        CAST(mg.rank_a AS BIGINT) AS rank_a,
         |        CAST(mg.rank_b AS BIGINT) AS rank_b,
         |        CAST(greatest(mg.rank_a, mg.rank_b) AS BIGINT)
         |          AS rank_union,
         |        CAST(e.n_a AS BIGINT) AS n_a,
         |        CAST(e.n_b AS BIGINT) AS n_b,
         |        CAST(e.inter_exact AS BIGINT) AS inter_exact,
         |        CAST(e.union_exact AS BIGINT) AS union_exact
         | FROM mg JOIN exact e USING (type_a, type_b)
         | ORDER BY mg.type_a, mg.type_b, mg.reg""".stripMargin,
    // count-min sketch: 4 disjoint-digest-slice rows x 16 buckets (width < vocab so the collision path is live) over exact token
    // counts, probed at the exact top-20 — estimate >= exact by
    // construction, both integers
    "sketch_cms_topk" -> CmsTopkSql,
    "sketch_countsketch" -> CountSketchSql,
    // KMV bottom-k: same 40-bit md5 decode, per-type + __all__ union
    // groups, every sample member + exact distinct as integers
    "sketch_kmv_distinct" ->
      s"""WITH u AS (
         |  SELECT DISTINCT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL),
         |a AS (
         |  SELECT event_type, user_id FROM u
         |  UNION ALL
         |  SELECT DISTINCT '__all__' AS event_type, user_id FROM u),
         |h AS (
         |  SELECT event_type, user_id,
         |         ${md5SliceModSql("CAST(user_id AS VARCHAR)", 1, 10,
                      1099511627776L)} AS h
         |  FROM a),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY h, user_id) AS rnk
         |  FROM h),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
         |       FROM a GROUP BY 1)
         | SELECT r.event_type, CAST(rnk AS BIGINT) AS rnk,
         |        CAST(h AS BIGINT) AS h_min,
         |        CAST(ex.exact_users AS BIGINT) AS exact_users
         | FROM r JOIN ex USING (event_type) WHERE rnk <= 8
         | ORDER BY event_type, rnk""".stripMargin,
    // theta set algebra: θ = min of the two kth-mins (exclusive),
    // common-below-θ count over the two bottom-k samples, exact
    // intersection alongside
    "sketch_kmv_setops" ->
      s"""WITH u AS (
         |  SELECT DISTINCT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL),
         |h AS (
         |  SELECT event_type, user_id,
         |         ${md5SliceModSql("CAST(user_id AS VARCHAR)", 1, 10,
                      1099511627776L)} AS h
         |  FROM u),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY h, user_id) AS rnk
         |  FROM h),
         |bk AS (SELECT event_type, h FROM r WHERE rnk <= 8),
         |kth AS (SELECT event_type, max(h) AS kth FROM bk GROUP BY 1),
         |pairs AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |         least(a.kth, b.kth) AS theta
         |  FROM kth a JOIN kth b ON a.event_type < b.event_type),
         |co AS (
         |  SELECT DISTINCT x.event_type AS type_a, y.event_type AS type_b,
         |         x.h AS h
         |  FROM bk x JOIN bk y
         |    ON x.h = y.h AND x.event_type < y.event_type),
         |nc AS (
         |  SELECT p.type_a, p.type_b, max(p.theta) AS theta,
         |         count(CASE WHEN c.h < p.theta THEN 1 END) AS n_common
         |  FROM pairs p LEFT JOIN co c
         |    ON p.type_a = c.type_a AND p.type_b = c.type_b
         |  GROUP BY 1, 2),
         |exc AS (
         |  SELECT x.event_type AS type_a, y.event_type AS type_b,
         |         count(*) AS exact_common
         |  FROM u x JOIN u y
         |    ON x.user_id = y.user_id AND x.event_type < y.event_type
         |  GROUP BY 1, 2)
         | SELECT nc.type_a, nc.type_b, CAST(nc.theta AS BIGINT) AS theta,
         |        CAST(nc.n_common AS BIGINT) AS n_common,
         |        CAST(coalesce(exc.exact_common, 0) AS BIGINT)
         |          AS exact_common
         | FROM nc LEFT JOIN exc
         |   ON nc.type_a = exc.type_a AND nc.type_b = exc.type_b
         | ORDER BY nc.type_a, nc.type_b""".stripMargin,
    // watermark-dedup replay: the greedy earliest-anchored admission
    // chain re-derived jump by jump (recursive CTE: next admitted = the
    // first occurrence past the last anchor + horizon), every event's
    // verdict via left join onto the chain
    "stream_dedup_replay" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_type,
        |         (epoch_ns(ts) // 1000000000) AS s, event_id
        |  FROM events WHERE user_id IS NOT NULL),
        |occ AS (
        |  SELECT user_id, event_type, s, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY s, event_id) AS rn
        |  FROM base),
        |adm AS (
        |  SELECT user_id, event_type, s, event_id, rn FROM occ WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.event_type, o.s, o.event_id, o.rn
        |  FROM adm a JOIN occ o
        |    ON o.user_id = a.user_id AND o.event_type = a.event_type
        |   AND o.rn = (SELECT min(x.rn) FROM occ x
        |               WHERE x.user_id = a.user_id
        |                 AND x.event_type = a.event_type
        |                 AND x.s > a.s + 172800))
        | SELECT occ.user_id, occ.event_type, CAST(occ.s AS BIGINT) AS s,
        |        occ.event_id, (adm.rn IS NOT NULL) AS admitted
        | FROM occ LEFT JOIN adm
        |   ON occ.user_id = adm.user_id AND occ.event_type = adm.event_type
        |  AND occ.rn = adm.rn
        | ORDER BY occ.user_id, occ.event_type, occ.s, occ.event_id""".stripMargin,
    // admission replay: 3-day key index (anti-join side) + the same
    // chain over the post-cutoff stream; both verdicts per event
    "stream_admission_replay" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type,
        |         (epoch_ns(ts) // 1000000000) AS s, event_id,
        |         (epoch_ns(ts) // 1000000000) // 86400 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |cut AS (SELECT min(day) + 3 AS c FROM e),
        |idx AS (SELECT DISTINCT user_id, event_type FROM e, cut
        |        WHERE day < c),
        |occ AS (
        |  SELECT user_id, event_type, s, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY s, event_id) AS rn
        |  FROM e, cut WHERE day >= c),
        |adm AS (
        |  SELECT user_id, event_type, s, event_id, rn FROM occ WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.event_type, o.s, o.event_id, o.rn
        |  FROM adm a JOIN occ o
        |    ON o.user_id = a.user_id AND o.event_type = a.event_type
        |   AND o.rn = (SELECT min(x.rn) FROM occ x
        |               WHERE x.user_id = a.user_id
        |                 AND x.event_type = a.event_type
        |                 AND x.s > a.s + 172800))
        | SELECT occ.user_id, occ.event_type, CAST(occ.s AS BIGINT) AS s,
        |        occ.event_id, (i.user_id IS NOT NULL) AS in_index,
        |        (i.user_id IS NULL AND adm.rn IS NOT NULL) AS admitted
        | FROM occ
        | LEFT JOIN idx i
        |   ON occ.user_id = i.user_id AND occ.event_type = i.event_type
        | LEFT JOIN adm
        |   ON occ.user_id = adm.user_id AND occ.event_type = adm.event_type
        |  AND occ.rn = adm.rn
        | ORDER BY occ.user_id, occ.event_type, occ.s, occ.event_id""".stripMargin,
    // AMS F2: signed frequency sums from md5 hex-digit parity, exact
    // self-join size alongside; estimate stays consumer-side
    "sketch_ams_f2" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |signs AS (
        |  SELECT event_type, user_id, cnt, j,
        |         1 - 2 * ((strpos('0123456789abcdef',
        |             substr(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1)
        |             % 2) AS sgn
        |  FROM c, unnest(generate_series(1, 8)) AS t(j)),
        |s AS (SELECT event_type, j, sum(sgn * cnt) AS s_j
        |      FROM signs GROUP BY 1, 2),
        |f2 AS (SELECT event_type, sum(cnt * cnt) AS f2_exact
        |       FROM c GROUP BY 1)
        | SELECT s.event_type, CAST(j AS BIGINT) AS j,
        |        CAST(s_j AS BIGINT) AS s_j,
        |        CAST(f2_exact AS BIGINT) AS f2_exact
        | FROM s JOIN f2 USING (event_type)
        | ORDER BY event_type, j""".stripMargin,
    // AMS inner product: per-row sketch products vs the exact
    // user-keyed join size per type pair
    "sketch_ams_join" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |signs AS (
        |  SELECT event_type, user_id, cnt, j,
        |         1 - 2 * ((strpos('0123456789abcdef',
        |             substr(md5(CAST(user_id AS VARCHAR)), j, 1)) - 1)
        |             % 2) AS sgn
        |  FROM c, unnest(generate_series(1, 8)) AS t(j)),
        |s AS (SELECT event_type, j, sum(sgn * cnt) AS s_j
        |      FROM signs GROUP BY 1, 2),
        |ex AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         sum(a.cnt * b.cnt) AS join_exact
        |  FROM c a JOIN c b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        | SELECT sa.event_type AS type_a, sb.event_type AS type_b,
        |        CAST(sa.j AS BIGINT) AS j,
        |        CAST(sa.s_j * sb.s_j AS BIGINT) AS dot_j,
        |        CAST(coalesce(ex.join_exact, 0) AS BIGINT) AS join_exact
        | FROM s sa JOIN s sb
        |   ON sa.j = sb.j AND sa.event_type < sb.event_type
        | LEFT JOIN ex
        |   ON ex.type_a = sa.event_type AND ex.type_b = sb.event_type
        | ORDER BY type_a, type_b, j""".stripMargin,
    // token-bucket replay: linear recursive CTE (rn -> rn+1) carrying
    // the exact milli-token balance; refill is floor division so both
    // engines agree bit-for-bit
    "stream_rate_limit_replay" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id, event_type,
        |         (epoch_ns(ts) // 1000000000) AS s, event_id
        |  FROM events WHERE user_id IS NOT NULL),
        |occ AS (
        |  SELECT user_id, event_type, s, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY s, event_id) AS rn
        |  FROM base),
        |adm AS (
        |  SELECT user_id, event_type, s, event_id, rn,
        |         CAST(1000 AS BIGINT) AS tok, TRUE AS admitted
        |  FROM occ WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.event_type, o.s, o.event_id, o.rn,
        |         CASE WHEN least(2000, a.tok + ((o.s - a.s) * 1000)
        |                       // 86400) >= 1000
        |              THEN least(2000, a.tok + ((o.s - a.s) * 1000)
        |                       // 86400) - 1000
        |              ELSE least(2000, a.tok + ((o.s - a.s) * 1000)
        |                       // 86400) END,
        |         least(2000, a.tok + ((o.s - a.s) * 1000) // 86400)
        |           >= 1000
        |  FROM adm a JOIN occ o
        |    ON o.user_id = a.user_id AND o.event_type = a.event_type
        |   AND o.rn = a.rn + 1)
        | SELECT user_id, event_type, CAST(s AS BIGINT) AS s, event_id,
        |        CAST(tok AS BIGINT) AS tokens_milli, admitted
        | FROM adm ORDER BY user_id, event_type, s, event_id""".stripMargin,
    // provisioned-at-mean backlog: Lindley recursion over the global
    // window grid (gap windows drain), capacity = ceil(type total /
    // #windows), all integers
    "stream_backlog_replay" ->
      """WITH RECURSIVE base AS (
        |  SELECT event_type, (epoch_ns(ts) // 1000000000) // 21600 AS w
        |  FROM events WHERE user_id IS NOT NULL),
        |bounds AS (SELECT min(w) AS w0, max(w) AS w1 FROM base),
        |grid AS (
        |  SELECT b.event_type, g.g AS w
        |  FROM (SELECT DISTINCT event_type FROM base) b,
        |       (SELECT unnest(generate_series((SELECT w0 FROM bounds),
        |                                      (SELECT w1 FROM bounds)))
        |          AS g) g),
        |arr AS (SELECT event_type, w, count(*) AS arrivals
        |        FROM base GROUP BY 1, 2),
        |cap AS (
        |  SELECT event_type,
        |         (count(*) + (SELECT w1 - w0 FROM bounds))
        |           // (SELECT w1 - w0 + 1 FROM bounds) AS capacity
        |  FROM base GROUP BY 1),
        |g2 AS (
        |  SELECT g.event_type, g.w, coalesce(a.arrivals, 0) AS arrivals,
        |         row_number() OVER (PARTITION BY g.event_type
        |                            ORDER BY g.w) AS rn
        |  FROM grid g LEFT JOIN arr a
        |    ON g.event_type = a.event_type AND g.w = a.w),
        |fold AS (
        |  SELECT g2.event_type, w, arrivals, rn,
        |         greatest(0, arrivals - cap.capacity) AS backlog
        |  FROM g2 JOIN cap ON g2.event_type = cap.event_type
        |  WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.w, o.arrivals, o.rn,
        |         greatest(0, f.backlog + o.arrivals - cap.capacity)
        |  FROM fold f
        |  JOIN g2 o ON o.event_type = f.event_type AND o.rn = f.rn + 1
        |  JOIN cap ON o.event_type = cap.event_type)
        | SELECT f.event_type, CAST(f.w * 21600 AS BIGINT) AS window_start,
        |        CAST(f.arrivals AS BIGINT) AS arrivals,
        |        CAST(c.capacity AS BIGINT) AS capacity,
        |        CAST(f.backlog AS BIGINT) AS backlog
        | FROM fold f JOIN cap c ON f.event_type = c.event_type
        | ORDER BY f.event_type, window_start""".stripMargin,
    // watermarked-rollup replay: the same md5-jitter arrival walk as
    // stream_late_events, window-end-vs-watermark eviction drops,
    // survivor aggregates FILTERed per window, xff gate + dispatch
    "stream_rollup_replay" ->
      s"""$PtsCte, $MetaCte,
         |arr AS (
         |  SELECT metric, ts, value,
         |         ts + ${md5SliceModSql(
                      "metric || ':' || CAST(ts AS VARCHAR)", 1, 10,
                      86400L)} - 43200 AS arr
         |  FROM pts),
         |walk AS (
         |  SELECT metric, ts, value, arr,
         |         max(ts) OVER (ORDER BY arr, metric, ts
         |                       ROWS BETWEEN UNBOUNDED PRECEDING
         |                       AND 1 PRECEDING) - 21600 AS wm,
         |         ts - (ts % 43200) AS w
         |  FROM arr),
         |fl AS (
         |  SELECT metric, w, ts, value,
         |         (wm IS NOT NULL AND w + 43200 <= wm) AS dropped
         |  FROM walk),
         |agg AS (
         |  SELECT f.metric, f.w,
         |         any_value(m.method) AS method, any_value(m.xff) AS xff,
         |         CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_late_dropped,
         |         count(*) FILTER (WHERE NOT dropped) AS known,
         |         floor((avg(value) FILTER (WHERE NOT dropped)) * 1e6 + 0.5)
         |           / 1e6 AS v_avg,
         |         floor((sum(value) FILTER (WHERE NOT dropped)) * 1e6 + 0.5)
         |           / 1e6 AS v_sum,
         |         min(value) FILTER (WHERE NOT dropped) AS v_min,
         |         max(value) FILTER (WHERE NOT dropped) AS v_max,
         |         arg_max(value, ts) FILTER (WHERE NOT dropped) AS v_last
         |  FROM fl f JOIN meta m ON f.metric = m.metric
         |  GROUP BY f.metric, f.w)
         | SELECT metric, CAST(w AS BIGINT) AS window_start, n_late_dropped,
         |        CAST(known AS BIGINT) AS known,
         |        (known / 12.0 >= xff) AS emitted,
         |        CASE WHEN known / 12.0 >= xff THEN
         |          CASE method WHEN 'average' THEN v_avg
         |               WHEN 'sum' THEN v_sum WHEN 'min' THEN v_min
         |               WHEN 'max' THEN v_max ELSE v_last END
         |        END AS value
         | FROM agg WHERE known >= 1
         | ORDER BY metric, window_start""".stripMargin,
    // lateness audit: the same md5 jitter displaces arrival order, the
    // running max event time over prior arrivals is the watermark
    // authority, late_by = how far the 1-day delay has fallen behind
    "stream_late_events" ->
      s"""WITH b AS (
         |  SELECT event_id, (epoch_ns(ts) // 1000000000) AS s,
         |         (epoch_ns(ts) // 1000000000)
         |           + ${md5SliceModSql("CAST(event_id AS VARCHAR)", 1, 10,
                        345600L)} - 172800 AS arr
         |  FROM events),
         |a AS (
         |  SELECT event_id, s, arr,
         |         max(s) OVER (ORDER BY arr, event_id
         |                      ROWS BETWEEN UNBOUNDED PRECEDING
         |                      AND 1 PRECEDING) AS wm
         |  FROM b)
         | SELECT event_id, CAST(s AS BIGINT) AS s, CAST(arr AS BIGINT) AS arr,
         |        CAST(greatest(0, coalesce(wm - 86400 - s, 0)) AS BIGINT)
         |          AS late_by,
         |        (greatest(0, coalesce(wm - 86400 - s, 0)) > 0) AS late
         | FROM a ORDER BY arr, event_id""".stripMargin,
    // the same score expression, floor-bucketed to deciles; the share
    // window runs over the (source, bucket) rollup
    "quality_histogram" ->
      """WITH s AS (
        |  SELECT source, CAST(least(floor((
        |     0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0) +
        |     0.3 * (1.0 - length(regexp_replace(text, '[\w\s]', '', 'g'))
        |                  / greatest(length(text), 1)) +
        |     0.3 * least(n_chars / 300.0, 1.0)) * 10), 9) AS BIGINT)
        |    AS bucket
        |  FROM documents),
        |g AS (SELECT source, bucket, count(*) AS n_docs
        |      FROM s GROUP BY 1, 2)
        | SELECT source, bucket, n_docs,
        |        floor((n_docs * 1.0 /
        |              sum(n_docs) OVER (PARTITION BY source)) * 1e6 + 0.5) / 1e6 AS share
        | FROM g ORDER BY source, bucket""".stripMargin,
    // per-doc repetition = 1 - distinct 3-grams / total 3-gram positions
    // (0 under 3 words), averaged per source; casts ordered to match the
    // engine's double arithmetic
    "doc_repetition" ->
      s"""WITH ws AS (
         |  SELECT doc_id, source, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |tot AS (
         |  SELECT doc_id, source, greatest(len(w) - 2, 0) AS total FROM ws),
         |shd AS (
         |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 2, 0))) AS i) t),
         |nd AS (SELECT doc_id, count(*) AS nd FROM shd GROUP BY doc_id)
         |SELECT t.source, count(*) AS n_docs,
         |  floor((avg(CASE WHEN t.total > 0
         |    THEN CAST(1 AS DOUBLE)
         |         - CAST(coalesce(nd.nd, 0) AS DOUBLE) / CAST(t.total AS DOUBLE)
         |    ELSE CAST(0 AS DOUBLE) END)) * 1e6 + 0.5) / 1e6 AS avg_repetition
         |FROM tot t LEFT JOIN nd ON nd.doc_id = t.doc_id
         |GROUP BY t.source ORDER BY t.source""".stripMargin,
    // jac pairs × the same md5-bucket split assignment train_split uses,
    // canonicalized (least, greatest) per unordered split pair
    "split_leakage" ->
      s"""$ShinglesCte,
         |bk AS (
         |  SELECT doc_id, ${md5BucketSql(4, 20L)} AS bucket FROM documents),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN bucket < 18 THEN 'train'
         |         WHEN bucket = 18 THEN 'val' ELSE 'test' END AS split
         |  FROM bk)
         | SELECT least(sa.split, sb.split) AS split_lo,
         |        greatest(sa.split, sb.split) AS split_hi,
         |        count(*) AS n_pairs
         | FROM jac j
         | JOIN sp sa ON sa.doc_id = j.doc_a
         | JOIN sp sb ON sb.doc_id = j.doc_b
         | WHERE j.jaccard >= 0.9 AND sa.split <> sb.split
         | GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin,
    // jac pairs against the benchmark-source set, both directions, then
    // the anti-filtered corpus (cap is output-preserving, so the
    // uncapped exhaustive-jaccard oracle proves the capped plan)
    "contamination_apply" -> {
      val b = "('src12', 'src18')"
      s"""$ShinglesCte,
         |cont AS (
         |  SELECT j.doc_b AS doc_id FROM jac j
         |  JOIN documents da ON da.doc_id = j.doc_a
         |  JOIN documents db ON db.doc_id = j.doc_b
         |  WHERE j.jaccard >= 0.9
         |    AND da.source IN $b AND db.source NOT IN $b
         |  UNION
         |  SELECT j.doc_a FROM jac j
         |  JOIN documents da ON da.doc_id = j.doc_a
         |  JOIN documents db ON db.doc_id = j.doc_b
         |  WHERE j.jaccard >= 0.9
         |    AND db.source IN $b AND da.source NOT IN $b)
         | SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
         | WHERE d.source NOT IN $b
         |   AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         | ORDER BY d.doc_id""".stripMargin
    },
    // the same distinct-shingle table, rolled to cross-doc span mass:
    // gram doc-frequency >= 2 marks a (doc, gram) entry as duplicated
    "span_dup_stats" ->
      s"""$ShinglesBaseCte,
         |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
         |per AS (
         |  SELECT h.doc_id, count(*) AS total,
         |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup
         |  FROM sh h JOIN df d USING (s) GROUP BY h.doc_id),
         |bysrc AS (
         |  SELECT doc.source, CAST(sum(p.total) AS BIGINT) AS total_grams,
         |         CAST(sum(p.dup) AS BIGINT) AS dup_grams
         |  FROM per p JOIN documents doc USING (doc_id)
         |  GROUP BY doc.source)
         | SELECT source, total_grams, dup_grams,
         |        floor((dup_grams * 1.0 / total_grams) * 1e6 + 0.5) / 1e6 AS dup_ratio
         | FROM bysrc ORDER BY source""".stripMargin,
    // CCNet paragraph segments: the corpus partitioned into
    // non-overlapping 10-word windows (tail kept); grouping by the
    // segment TEXT here mirrors Spark's grouping by its xxhash64
    "para_dup_stats" -> ParaDupStatsSql,
    "index_para_dup_stats" -> ParaDupStatsSql,
    // first-corpus-occurrence keep: row_number over (doc_id, seg) within
    // each segment-text group = Spark's min(struct(doc_id, seg)) winner
    "para_dedup_apply" ->
      s"""$ParaSegsCte,
         |r AS (
         |  SELECT doc_id, seg, row_number() OVER (
         |    PARTITION BY repr ORDER BY doc_id, seg) AS rn
         |  FROM segs),
         |per AS (
         |  SELECT doc_id, count(*) AS n_para,
         |         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
         |  FROM r GROUP BY doc_id)
         | SELECT d.doc_id, d.lang, d.source,
         |        CAST(p.n_para AS BIGINT) AS n_para,
         |        CAST(p.n_kept AS BIGINT) AS n_kept,
         |        floor((p.n_kept * 1.0 / p.n_para) * 1e6 + 0.5) / 1e6 AS kept_frac
         | FROM documents d JOIN per p USING (doc_id)
         | ORDER BY d.doc_id""".stripMargin,
    "para_dup_top" ->
      s"""$ParaSegsCte
         | SELECT CAST(count(*) AS BIGINT) AS df, repr AS para
         | FROM segs GROUP BY repr HAVING count(*) >= 2
         | ORDER BY df DESC, para LIMIT 15""".stripMargin,
    // paragraph-level incremental admission: a new doc's segment is
    // duplicated iff its text is in the indexed (non-new) corpus or in
    // an earlier (smaller-id) new doc; gate on the unrounded ratio
    "para_dedup_incremental" ->
      s"""$ParaSegsCte,
         |nf AS (SELECT doc_id, (${md5BucketSql(4, 10L)} >= 8) AS is_new
         |       FROM documents),
         |fs AS (
         |  SELECT repr,
         |         max(CASE WHEN NOT f.is_new THEN 1 ELSE 0 END) AS in_index,
         |         min(CASE WHEN f.is_new THEN s.doc_id END) AS first_new
         |  FROM segs s JOIN nf f USING (doc_id) GROUP BY repr),
         |per AS (
         |  SELECT s.doc_id, count(*) AS n_para,
         |         sum(CASE WHEN fs.in_index = 1 OR fs.first_new < s.doc_id
         |                  THEN 1 ELSE 0 END) AS n_dup
         |  FROM segs s JOIN nf f USING (doc_id) JOIN fs USING (repr)
         |  WHERE f.is_new GROUP BY s.doc_id)
         | SELECT d.doc_id, d.source,
         |        CAST(p.n_para AS BIGINT) AS n_para,
         |        CAST(p.n_dup AS BIGINT) AS n_dup,
         |        floor((p.n_dup * 1.0 / p.n_para) * 1e6 + 0.5) / 1e6 AS dup_frac,
         |        (p.n_dup * 1.0 / p.n_para <= 0.5) AS admitted
         | FROM documents d JOIN per p USING (doc_id)
         | ORDER BY d.doc_id""".stripMargin,
    // tokenizer fertility: the bpe_apply per-doc counts re-keyed by
    // source — subwords per word at the trained merge state
    "bpe_fertility" ->
      s"""${bpeTrainChainSql(10)},
         |dtk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |dwc AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM dtk GROUP BY doc_id, tok),
         |sub AS (
         |  SELECT replace(repr, ' ', '') AS tok,
         |         CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sub
         |  FROM w10),
         |lens AS (
         |  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_words,
         |         CAST(sum(d.c * s.n_sub) AS BIGINT) AS n_bpe_tokens
         |  FROM dwc d JOIN sub s USING (tok) GROUP BY d.doc_id)
         | SELECT doc.source, count(*) AS n_docs,
         |        CAST(sum(l.n_words) AS BIGINT) AS n_words,
         |        CAST(sum(l.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |        floor((sum(l.n_bpe_tokens) * 1.0 / sum(l.n_words)) * 1e6 + 0.5) / 1e6
         |          AS fertility
         | FROM lens l JOIN documents doc USING (doc_id)
         | GROUP BY doc.source ORDER BY doc.source""".stripMargin,
    // batch-vs-index vocabulary drift: OOV = token absent from every
    // indexed (non-new) doc; same md5-bucket batch split as the
    // incremental dedup faces (shared session/index)
    "batch_vocab_drift" -> BatchVocabDriftSql,
    "index_batch_vocab_drift" -> BatchVocabDriftSql,
    // span-dedup apply on 13-gram spans: df chain over distinct long
    // grams, per-doc duplicated share gated by one exact integer-ratio
    // compare (gram-less docs pass)
    "span_dedup_apply" ->
      s"""WITH ws AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |         array_to_string(list_slice(w, i, i + 12), ' ') AS s
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |         greatest(len(w) - 12, 0))) AS i) t),
         |dfq AS (SELECT s, count(*) AS df FROM g GROUP BY s),
         |per AS (
         |  SELECT h.doc_id, count(*) AS total,
         |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup
         |  FROM g h JOIN dfq d USING (s) GROUP BY h.doc_id)
         | SELECT doc.doc_id, doc.lang, doc.source, doc.n_chars
         | FROM documents doc LEFT JOIN per p USING (doc_id)
         | WHERE p.total IS NULL OR p.dup * 1.0 / p.total <= 0.5
         | ORDER BY doc.doc_id""".stripMargin,
    // span excision proven by digest: duplicated-gram (df >= 2 over
    // distinct doc/gram entries) position covers unioned, kept words
    // re-joined in order, md5 compared — docs excised to empty keep a
    // coalesced md5('') row
    "span_excise" ->
      s"""WITH $SpanExciseCtes,
         |nd AS (SELECT doc_id, count(*) AS n_dup_grams FROM dup
         |       GROUP BY doc_id),
         |wpos AS (
         |  SELECT doc_id, t.i, w[t.i] AS word
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(w)))
         |                      AS i) t),
         |kept AS (
         |  SELECT p.doc_id, p.i, p.word FROM wpos p
         |  WHERE NOT EXISTS (SELECT 1 FROM cov c
         |                    WHERE c.doc_id = p.doc_id AND c.j = p.i)),
         |rebuilt AS (
         |  SELECT doc_id, md5(string_agg(word, ' ' ORDER BY i))
         |    AS excised_md5
         |  FROM kept GROUP BY doc_id)
         | SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_words,
         |        CAST(nd.n_dup_grams AS BIGINT) AS n_dup_grams,
         |        CAST(agg.n_removed AS BIGINT) AS n_removed,
         |        coalesce(r.excised_md5, md5('')) AS excised_md5
         | FROM ws JOIN nd USING (doc_id) JOIN agg USING (doc_id)
         | LEFT JOIN rebuilt r USING (doc_id)
         | ORDER BY ws.doc_id""".stripMargin,
    // the per-source mass readout of the same excision: one shared
    // duplication/cover chain, source rollup (untouched docs count
    // with zero removal)
    "span_excise_stats" ->
      s"""WITH $SpanExciseCtes
         | SELECT d.source, count(*) AS n_docs,
         |        CAST(sum(CASE WHEN a.n_removed IS NOT NULL
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
         |        CAST(sum(len(ws.w)) AS BIGINT) AS n_words,
         |        CAST(sum(coalesce(a.n_removed, 0)) AS BIGINT) AS n_removed,
         |        floor((sum(coalesce(a.n_removed, 0)) * 1.0
         |              / sum(len(ws.w))) * 1e6 + 0.5) / 1e6
         |          AS removed_ratio
         | FROM ws JOIN documents d USING (doc_id)
         | LEFT JOIN agg a USING (doc_id)
         | GROUP BY d.source ORDER BY d.source""".stripMargin,
    // integer-only survivorship: bucket(doc_id) * n < 1000 * cap — the
    // md5Bucket family at 8 hex digits (32 bits -> mod-1000 skew <= 2e-7)
    "source_cap_sample" ->
      s"""WITH b AS (
        |  SELECT source, ${md5BucketSql(8, 1000L)} AS bucket
        |  FROM documents),
        |n AS (SELECT source, count(*) AS n FROM b GROUP BY source)
        |SELECT b.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN b.bucket * n.n < 1000 * 30 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept
        |FROM b JOIN n ON n.source = b.source
        |GROUP BY b.source ORDER BY b.source""".stripMargin,
    // priority sampling: priority = (w * 2^32) // (u+1) over the stable
    // 32-bit md5 bucket — pure BIGINT, rank/tau over the top-(k+1) only
    "sample_weighted" ->
      s"""WITH pr AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        |         CAST((CAST(n_chars AS BIGINT) * 4294967296)
        |              // (${md5BucketSql(8, 1L << 32)} + 1) AS BIGINT)
        |           AS priority
        |  FROM documents),
        |top AS (SELECT doc_id, weight, priority FROM pr
        |        ORDER BY priority DESC, doc_id LIMIT 65),
        |rk AS (
        |  SELECT doc_id, weight, priority,
        |         CAST(row_number() OVER (ORDER BY priority DESC, doc_id)
        |              AS BIGINT) AS rnk
        |  FROM top)
        | SELECT rnk, doc_id, weight, priority,
        |        CAST(coalesce((SELECT priority FROM rk WHERE rnk = 65), 0)
        |             AS BIGINT) AS tau
        | FROM rk WHERE rnk <= 64 ORDER BY rnk""".stripMargin,
    // mixture re-weighting: every ratio is one division of exact integer
    // aggregates (total*1.0/(S*tokens)) so the capped weight is
    // bit-identical; only the |S|-row renorm sum is order-dependent
    "mix_weights" ->
      """WITH t AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |         CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
        |         count(*) OVER () AS n_sources
        |  FROM t),
        |x AS (
        |  SELECT source, n_docs, n_tokens, total,
        |         least(total * 1.0 / (n_sources * n_tokens), 3.0) AS wt
        |  FROM w)
        | SELECT source, n_docs, n_tokens,
        |        floor((n_tokens * 1.0 / total) * 1e6 + 0.5) / 1e6 AS share,
        |        floor((wt) * 1e6 + 0.5) / 1e6 AS weight,
        |        floor((n_tokens * wt / sum(n_tokens * wt) OVER ()) * 1e6 + 0.5) / 1e6
        |          AS eff_share
        | FROM x ORDER BY source""".stripMargin,
    // temperature mixing: tempered mass = floor(sqrt(n)) — exact in both
    // engines (IEEE sqrt is correctly rounded; the gap from an irrational
    // root to the integer below is >= 1/(2*sqrt(n)) >> ulp) — and the two
    // quotas are BIGINT floor divisions
    "mix_temperature" ->
      """WITH t AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |         CAST(floor(sqrt(n_tokens)) AS BIGINT) AS temp_weight,
        |         CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens,
        |         CAST(sum(CAST(floor(sqrt(n_tokens)) AS BIGINT)) OVER ()
        |              AS BIGINT) AS tot_weight
        |  FROM t)
        | SELECT source, n_docs, n_tokens, temp_weight,
        |        CAST((n_tokens * 1000000) // tot_tokens AS BIGINT)
        |          AS raw_quota,
        |        CAST((temp_weight * 1000000) // tot_weight AS BIGINT)
        |          AS temp_quota
        | FROM w ORDER BY source""".stripMargin,
    // linear-interpolation quantiles: DuckDB's quantile_cont implements
    // the same h = p*(n-1) rule the engine's rank arithmetic computes —
    // reproduced rank-by-rank so the interpolation arithmetic is ordered
    // identically (vlo + (vhi - vlo) * frac) and bits match
    "doc_length_quantiles" ->
      """WITH ranked AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars) - 1 AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |targets AS (
        |  SELECT DISTINCT source, n, p, p * (n - 1) AS h,
        |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
        |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
        |  FROM ranked, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |                       (CAST(0.99 AS DOUBLE))) pv(p))
        |SELECT t.source, t.p,
        |       floor((CAST(rl.n_chars AS DOUBLE) +
        |             CAST(rh.n_chars - rl.n_chars AS DOUBLE) *
        |             (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS q
        |FROM targets t
        |JOIN ranked rl ON rl.source = t.source AND rl.rn = t.lo
        |JOIN ranked rh ON rh.source = t.source AND rh.rn = t.hi
        |ORDER BY t.source, t.p""".stripMargin,
    // quantile-sample sketch: the SAME interpolation chain twice — over
    // the corpus and over the md5-gated sample (bucket ≡ 0 mod 4) —
    // plus both cardinalities; every compared value exact
    // KLL compactor cascade: 12 unrolled window levels (flush groups of
    // 64, even sorted positions promote, ties by doc_id), retained =
    // each level's incomplete group — MATERIALIZED per level
    "sketch_kll_levels" ->
      s"""WITH $KllChainSql
         | SELECT level, weight,
         |        CAST(row_number() OVER (PARTITION BY level
         |                                ORDER BY x, id) AS BIGINT) AS slot,
         |        x AS value, id AS src_id
         | FROM kret ORDER BY level, slot""".stripMargin,
    // KLL quantile-estimate audit: inverse-CDF rank picks on BOTH the
    // weight-cumulative retained state and the raw lengths, exact
    // integer rank targets ceil(p*N) — no floats anywhere
    "sketch_kll_quantiles" ->
      s"""WITH $KllChainSql,
         |wv AS (SELECT x AS value, CAST(sum(weight) AS BIGINT) AS w
         |       FROM kret GROUP BY x),
         |wc2 AS (
         |  SELECT value, sum(w) OVER (ORDER BY value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM wv),
         |ex AS (SELECT CAST(n_chars AS BIGINT) AS value, count(*) AS w
         |       FROM documents GROUP BY 1),
         |exc AS (
         |  SELECT value, sum(w) OVER (ORDER BY value
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ex),
         |nn AS (SELECT count(*) AS n FROM documents),
         |probes(p_num, p_den) AS (VALUES (1, 4), (1, 2), (3, 4), (9, 10)),
         |pt AS (
         |  SELECT p_num, p_den, n,
         |         (n * p_num + p_den - 1) // p_den AS target
         |  FROM probes, nn),
         |est AS (
         |  SELECT p.p_num, p.p_den, p.n, p.target,
         |         CAST(min(c.value) AS BIGINT) AS est_q
         |  FROM pt p JOIN wc2 c ON c.cum >= p.target
         |  GROUP BY 1, 2, 3, 4),
         |exa AS (
         |  SELECT p.p_num, p.p_den, p.n, p.target,
         |         CAST(min(c.value) AS BIGINT) AS exact_q
         |  FROM pt p JOIN exc c ON c.cum >= p.target
         |  GROUP BY 1, 2, 3, 4)
         | SELECT p_num, p_den, CAST(n AS BIGINT) AS n,
         |        CAST(target AS BIGINT) AS target_rank, est_q, exact_q
         | FROM est JOIN exa USING (p_num, p_den, n, target)
         | ORDER BY p_num, p_den""".stripMargin,
    "sketch_quantile_sample" ->
      s"""WITH s AS (
         |  SELECT doc_id, n_chars, ${md5BucketSql(4, 4L)} AS b
         |  FROM documents),
         |ra AS (
         |  SELECT n_chars, row_number() OVER (ORDER BY n_chars) - 1 AS rn,
         |         count(*) OVER () AS n
         |  FROM s),
         |ta AS (
         |  SELECT DISTINCT n, p, p * (n - 1) AS h,
         |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
         |  FROM ra, (VALUES (CAST(0.5 AS DOUBLE)),
         |                   (CAST(0.9 AS DOUBLE))) pv(p)),
         |qa AS (
         |  SELECT t.p,
         |         floor((CAST(rl.n_chars AS DOUBLE) +
         |               CAST(rh.n_chars - rl.n_chars AS DOUBLE) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6
         |           AS exact_q
         |  FROM ta t JOIN ra rl ON rl.rn = t.lo
         |            JOIN ra rh ON rh.rn = t.hi),
         |rs AS (
         |  SELECT n_chars, row_number() OVER (ORDER BY n_chars) - 1 AS rn,
         |         count(*) OVER () AS n
         |  FROM s WHERE b = 0),
         |ts AS (
         |  SELECT DISTINCT n, p, p * (n - 1) AS h,
         |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
         |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
         |  FROM rs, (VALUES (CAST(0.5 AS DOUBLE)),
         |                   (CAST(0.9 AS DOUBLE))) pv(p)),
         |qs AS (
         |  SELECT t.p,
         |         floor((CAST(rl.n_chars AS DOUBLE) +
         |               CAST(rh.n_chars - rl.n_chars AS DOUBLE) *
         |               (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6
         |           AS est_q
         |  FROM ts t JOIN rs rl ON rl.rn = t.lo
         |            JOIN rs rh ON rh.rn = t.hi),
         |c AS (
         |  SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_docs,
         |         CAST((SELECT count(*) FROM s WHERE b = 0) AS BIGINT)
         |           AS n_sample)
         | SELECT qa.p, c.n_docs, c.n_sample, qa.exact_q, qs.est_q
         | FROM qa JOIN qs ON qa.p = qs.p CROSS JOIN c
         | ORDER BY qa.p""".stripMargin,
    // the three quality gates verbatim: the quality_score per-doc formula,
    // the length floor, and the doc_repetition per-doc ratio (casts
    // ordered to match the engine's double arithmetic exactly)
    "quality_apply" ->
      s"""WITH ws AS (
         |  SELECT doc_id, lang, source, n_chars, text,
         |         string_split($NormSql, ' ') AS w
         |  FROM documents),
         |tot AS (
         |  SELECT doc_id, lang, source, n_chars, text,
         |         greatest(len(w) - 2, 0) AS total FROM ws),
         |shd AS (
         |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 2, 0))) AS i) t),
         |nd AS (SELECT doc_id, count(*) AS nd FROM shd GROUP BY doc_id)
         | SELECT t.doc_id, t.lang, t.source, t.n_chars
         | FROM tot t LEFT JOIN nd ON nd.doc_id = t.doc_id
         | WHERE (0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0) +
         |        0.3 * (1.0 - length(regexp_replace(text, '[\\w\\s]', '', 'g'))
         |                     / greatest(length(text), 1)) +
         |        0.3 * least(n_chars / 300.0, 1.0)) >= 0.8
         |   AND t.n_chars >= 150
         |   AND (CASE WHEN t.total > 0
         |        THEN CAST(1 AS DOUBLE)
         |             - CAST(coalesce(nd.nd, 0) AS DOUBLE)
         |               / CAST(t.total AS DOUBLE)
         |        ELSE CAST(0 AS DOUBLE) END) <= 0.02
         | ORDER BY t.doc_id""".stripMargin,
    // concat-and-split packing per md5 shard: running token sum per shard
    // (doc_id order), chunk index = (cum - tok) // budget — all integer
    // arithmetic, so both engines agree exactly
    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${md5BucketSql(4, 8L)} AS shard,
         |         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
         |           AS tok
         |  FROM documents),
         |c AS (
         |  SELECT shard, tok,
         |         CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         | SELECT shard, CAST((cum - tok) // 2048 AS BIGINT) AS seq,
         |        count(*) AS n_docs,
         |        CAST(sum(tok) AS BIGINT) AS seq_tokens
         | FROM c GROUP BY shard, seq ORDER BY shard, seq""".stripMargin,
    // packing at the TRAINED tokenizer's lengths: per-doc cost = the
    // bpe_apply subword count, then the same shard/cumsum chain
    "pack_sequences_bpe" ->
      s"""${bpeTrainChainSql(10)},
         |dtk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |dwc AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM dtk GROUP BY doc_id, tok),
         |sub AS (
         |  SELECT replace(repr, ' ', '') AS tok,
         |         CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sub
         |  FROM w10),
         |lens AS (
         |  SELECT d.doc_id, CAST(sum(d.c * s.n_sub) AS BIGINT) AS tok
         |  FROM dwc d JOIN sub s USING (tok) GROUP BY d.doc_id),
         |t AS (
         |  SELECT doc_id, ${md5BucketSql(4, 8L)} AS shard, tok FROM lens),
         |cm AS (
         |  SELECT shard, tok,
         |         CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         | SELECT shard, CAST((cum - tok) // 2048 AS BIGINT) AS seq,
         |        count(*) AS n_docs,
         |        CAST(sum(tok) AS BIGINT) AS seq_tokens
         | FROM cm GROUP BY shard, seq ORDER BY shard, seq""".stripMargin,
    // the packer's shard rollup: chunks = ceil(tokens/budget) via the
    // same integer (tokens + budget-1) // budget, fill over the product
    // the BPE packer's utilization rollup: the bpe_apply length CTEs +
    // the same integer chunk arithmetic
    "pack_efficiency_bpe" ->
      s"""${bpeTrainChainSql(10)},
         |dtk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |dwc AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM dtk GROUP BY doc_id, tok),
         |sub AS (
         |  SELECT replace(repr, ' ', '') AS tok,
         |         CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_sub
         |  FROM w10),
         |lens AS (
         |  SELECT d.doc_id, CAST(sum(d.c * s.n_sub) AS BIGINT) AS tok
         |  FROM dwc d JOIN sub s USING (tok) GROUP BY d.doc_id),
         |t AS (SELECT ${md5BucketSql(4, 8L)} AS shard, tok FROM lens),
         |g AS (
         |  SELECT shard, count(*) AS n_docs,
         |         CAST(sum(tok) AS BIGINT) AS shard_tokens
         |  FROM t GROUP BY shard),
         |e AS (
         |  SELECT shard, n_docs, shard_tokens,
         |         CAST((shard_tokens + 2047) // 2048 AS BIGINT) AS n_chunks
         |  FROM g)
         | SELECT shard, n_docs, shard_tokens, n_chunks,
         |        floor((shard_tokens * 1.0 /
         |              (greatest(n_chunks, 1) * 2048)) * 1e6 + 0.5) / 1e6 AS fill
         | FROM e ORDER BY shard""".stripMargin,
    "pack_efficiency" ->
      s"""WITH t AS (
         |  SELECT ${md5BucketSql(4, 8L)} AS shard,
         |         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
         |           AS tok
         |  FROM documents),
         |g AS (
         |  SELECT shard, count(*) AS n_docs,
         |         CAST(sum(tok) AS BIGINT) AS shard_tokens
         |  FROM t GROUP BY shard),
         |e AS (
         |  SELECT shard, n_docs, shard_tokens,
         |         CAST((shard_tokens + 2047) // 2048 AS BIGINT) AS n_chunks
         |  FROM g)
         | SELECT shard, n_docs, shard_tokens, n_chunks,
         |        floor((shard_tokens * 1.0 / (greatest(n_chunks, 1) * 2048)) * 1e6 + 0.5) / 1e6
         |          AS fill
         | FROM e ORDER BY shard""".stripMargin,
    // BM25: exact-integer tf/df/dl/N; per-doc sums span ≤ 2 terms (IEEE
    // two-double addition is commutative, so no accumulation-order hazard)
    "bm25_search" -> Bm25Sql,
    // the SAME retrieval served from the ingest-maintained word-count
    // index table — identical output contract, identical oracle
    "index_bm25_search" -> Bm25Sql,
    // inter-document shingle novelty: per-source MICRO-average (one
    // division of exact integer sums, never a mean of float ratios)
    "doc_novelty" ->
      s"""$ShinglesBaseCte,
         |dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
         |per AS (
         |  SELECT doc_id, count(*) AS total,
         |         CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS novel
         |  FROM sh JOIN dfs USING (s) GROUP BY doc_id)
         | SELECT d.source, count(*) AS n_docs,
         |        CAST(sum(p.novel) AS BIGINT) AS novel_shingles,
         |        CAST(sum(p.total) AS BIGINT) AS total_shingles,
         |        floor((sum(p.novel) * 1.0 / sum(p.total)) * 1e6 + 0.5) / 1e6 AS novelty
         | FROM per p JOIN documents d USING (doc_id)
         | GROUP BY d.source ORDER BY d.source""".stripMargin,
    // pairwise source jaccard over DISTINCT per-source shingles (the
    // oracle intersects strings where the engine intersects xxhash64
    // keys — the repo-wide shingle convention)
    "source_similarity" ->
      s"""WITH ws AS (
         |  SELECT doc_id, source, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |ssh AS (
         |  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 2, 0))) AS i) t),
         |sizes AS (SELECT source, count(*) AS ns FROM ssh GROUP BY source),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM ssh a JOIN ssh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         | SELECT src_a, src_b, n_common,
         |        floor((n_common / (sa.ns + sb.ns - n_common)) * 1e6 + 0.5) / 1e6 AS jaccard
         | FROM inter
         | JOIN sizes sa ON sa.source = src_a
         | JOIN sizes sb ON sb.source = src_b
         | ORDER BY src_a, src_b""".stripMargin,
    // funnel over quality_apply's EXACT gate expressions (scores are
    // bit-identical across engines — the same property the gate relies on)
    "quality_funnel" ->
      s"""WITH ws AS (
         |  SELECT doc_id, n_chars, text,
         |         string_split($NormSql, ' ') AS w
         |  FROM documents),
         |tot AS (
         |  SELECT doc_id, n_chars, text,
         |         greatest(len(w) - 2, 0) AS total FROM ws),
         |shd AS (
         |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |  FROM ws, LATERAL (SELECT unnest(generate_series(1,
         |    greatest(len(w) - 2, 0))) AS i) t),
         |nd AS (SELECT doc_id, count(*) AS nd FROM shd GROUP BY doc_id),
         |fl AS (
         |  SELECT t.n_chars >= 150 AS p1,
         |         (0.4 * least(len(string_split(text, ' ')) / 50.0, 1.0) +
         |          0.3 * (1.0 - length(regexp_replace(text, '[\\w\\s]', '', 'g'))
         |                       / greatest(length(text), 1)) +
         |          0.3 * least(n_chars / 300.0, 1.0)) >= 0.8 AS p2,
         |         (CASE WHEN t.total > 0
         |          THEN CAST(1 AS DOUBLE)
         |               - CAST(coalesce(nd.nd, 0) AS DOUBLE)
         |                 / CAST(t.total AS DOUBLE)
         |          ELSE CAST(0 AS DOUBLE) END) <= 0.02 AS p3
         |  FROM tot t LEFT JOIN nd ON nd.doc_id = t.doc_id),
         |agg AS (
         |  SELECT count(*) AS n0,
         |         CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |         CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n2,
         |         CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n3
         |  FROM fl)
         | SELECT CAST(0 AS BIGINT) AS stage_id, 'all' AS stage,
         |        n0 AS n_docs, floor((n0 * 1.0 / n0) * 1e6 + 0.5) / 1e6 AS frac FROM agg
         | UNION ALL SELECT 1, 'min_chars', n1, floor((n1 * 1.0 / n0) * 1e6 + 0.5) / 1e6 FROM agg
         | UNION ALL SELECT 2, 'quality', n2, floor((n2 * 1.0 / n0) * 1e6 + 0.5) / 1e6 FROM agg
         | UNION ALL SELECT 3, 'repetition', n3, floor((n3 * 1.0 / n0) * 1e6 + 0.5) / 1e6
         |   FROM agg
         | ORDER BY stage_id""".stripMargin,
    "tfidf_terms" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |ag AS (
         |  SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
         |  FROM tk GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         | SELECT tok, tf, df, floor((tf * ln(n_docs / df)) * 1e6 + 0.5) / 1e6 AS tfidf
         | FROM ag, n
         | ORDER BY tfidf DESC, tok LIMIT 20""".stripMargin,
    "top_terms" -> TopTermsSql,
    // corpus-derived top-20 stopword list, per-doc exact-integer masses
    "stopword_stats" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY doc_id, source, tok),
         |stop AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS occurrences FROM tk GROUP BY tok
         |    ORDER BY occurrences DESC, tok LIMIT 20)),
         |doc AS (
         |  SELECT doc_id, source, sum(c) AS n,
         |         sum(CASE WHEN s.tok IS NOT NULL THEN c ELSE 0 END) AS sc
         |  FROM dw LEFT JOIN stop s ON dw.tok = s.tok
         |  GROUP BY doc_id, source)
         | SELECT source, count(*) AS n_docs,
         |        floor((avg(sc * 1.0 / n)) * 1e6 + 0.5) / 1e6 AS avg_stop_ratio
         | FROM doc GROUP BY source ORDER BY source""".stripMargin,
    // exact integer vocab rollup + two single divisions
    "vocab_stats" ->
      s"""WITH v AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cf
         |  FROM (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY tok)
         | SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         |        CAST(sum(cf) AS BIGINT) AS total_tokens,
         |        CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS hapax,
         |        floor((sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) * 1.0
         |              / count(*)) * 1e6 + 0.5) / 1e6 AS hapax_share,
         |        floor((count(*) * 1.0 / sum(cf)) * 1e6 + 0.5) / 1e6 AS type_token_ratio
         | FROM v""".stripMargin,
    // Zipf regression on (ln rank, ln cf) micro-unit integers over the
    // top-100 terms: five exact long sums, closing IEEE sequence
    "vocab_zipf" ->
      s"""WITH tk AS (
         |  SELECT unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |cf AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tk GROUP BY tok
         |  ORDER BY cf DESC, tok LIMIT 100),
         |rk AS (
         |  SELECT cf, row_number() OVER (ORDER BY cf DESC, tok) AS rank
         |  FROM cf),
         |xy AS (
         |  SELECT CAST(floor(ln(rank) * 1e6 + 0.5) AS BIGINT) AS x,
         |         CAST(floor(ln(cf) * 1e6 + 0.5) AS BIGINT) AS y
         |  FROM rk),
         |s AS (
         |  SELECT count(*) AS n_terms,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(x * x) AS BIGINT) AS sxx,
         |         CAST(sum(x * y) AS BIGINT) AS sxy,
         |         CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM xy),
         |f AS (
         |  SELECT n_terms, sx, sy,
         |         n_terms * sxy - sx * sy AS num,
         |         n_terms * sxx - sx * sx AS den,
         |         n_terms * syy - sy * sy AS deny
         |  FROM s)
         | SELECT n_terms, floor((num / den) * 1e6 + 0.5) / 1e6 AS slope,
         |        floor(((sy - num / den * sx) / n_terms / 1e6) * 1e6 + 0.5) / 1e6 AS intercept,
         |        floor((CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
         |              (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS r2
         | FROM f""".stripMargin,
    // BPE first-round merge candidates: adjacent char pairs over the
    // word vocabulary weighted by occurrence — exact integer counts,
    // lexicographic ties
    "bpe_merge_candidates" -> BpeMergeSql,
    "index_bpe_merge_candidates" -> BpeMergeSql,
    // the unrolled 3-round Sennrich training loop (argmax pair merged
    // into the vocab before the next round counts) and the resulting
    // subword inventory — PCA-unroll-style fixed-round oracles
    "bpe_train_rounds" -> BpeTrainSql,
    "bpe_train_deep" -> bpeTrainSqlAt(10),
    "index_bpe_train_rounds" -> BpeTrainSql,
    "bpe_vocab_after" -> BpeVocabAfterSql,
    // apply the learned merges back to the corpus: the vocab key is the
    // space-stripped repr (symbolization is a bijection), so the apply
    // oracle shares the training chain with zero extra plumbing
    "bpe_apply" -> BpeApplySql,
    // unigram-LM trainer: the full EM trajectory (seed + 2 Viterbi-EM
    // rounds), usage counts exact integers, costs quantized micro-nats;
    // the index face trains from the SAME persisted counts, one oracle
    "unigram_lm_train" -> UnigramTrainSql,
    "index_unigram_lm_train" -> UnigramTrainSql,
    // unigram apply: one more Viterbi round under the final costs (v2),
    // per-word piece counts joined doc-keyed — shared session/index
    "unigram_lm_apply" -> UnigramApplySql,
    "index_unigram_lm_apply" -> UnigramApplySql,
    "unigram_lm_score" -> UnigramScoreSql,
    "index_unigram_lm_score" -> UnigramScoreSql,
    // tokenizer-QA fertility per source at the frozen unigram state
    // (the bpe_fertility twin): same segmentation chain, source rollup
    "unigram_fertility" ->
      s"""WITH RECURSIVE ${unigramChainSql(24, 3)},
         |unp AS (SELECT tok, CAST(count(*) AS BIGINT) AS np
         |        FROM useg3 GROUP BY tok)
         | SELECT d.source,
         |        CAST(count(DISTINCT w.doc_id) AS BIGINT) AS n_docs,
         |        CAST(sum(w.c) AS BIGINT) AS n_words,
         |        CAST(sum(w.c * p.np) AS BIGINT) AS n_pieces,
         |        floor((sum(w.c * p.np) * 1.0 / sum(w.c)) * 1e6 + 0.5)
         |          / 1e6 AS fertility
         | FROM uwc w JOIN unp p USING (tok)
         | JOIN documents d USING (doc_id)
         | GROUP BY d.source ORDER BY d.source""".stripMargin,
    "index_bpe_apply" -> BpeApplySql,
    // SentencePiece character coverage: top chars of the normalized
    // corpus (spaces excluded) with cumulative share
    "char_coverage" -> CharCoverageSql,
    "index_char_coverage" -> CharCoverageSql,
    // CCNet terciles: per-doc micro-nat surprisal (the unigram_logprob
    // doc chain) split per lang at the interpolated 1/3 and 2/3
    // quantiles (the series_percentiles rank chain)
    "ccnet_buckets" -> CcnetBucketsSql,
    "index_ccnet_buckets" -> CcnetBucketsSql,
    // the SAME vocabulary aggregate served from the ingest-maintained
    // word-count index table — identical output contract
    "index_top_terms" -> TopTermsSql,
    "top_terms_by_lang" ->
      s"""WITH counts AS (
         |  SELECT lang, tok, count(*) AS occurrences
         |  FROM (SELECT lang, unnest(string_split($NormSql, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY lang, tok),
         |ranked AS (
         |  SELECT lang, tok, occurrences,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY occurrences DESC, tok) AS rnk
         |  FROM counts)
         |SELECT lang, rnk, tok, occurrences FROM ranked
         |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,
    // Rabin–Karp window hash recomputed per position with mod-reduced
    // powers of the base (257^k mod 1e9+7) — residue-identical to the
    // engine's O(n) rolling update in RollingMinHash, INCLUDING texts
    // shorter than the window (hash over the full w=len prefix, not a
    // zero-padded 5-term polynomial)
    "doc_fingerprint" -> DocFingerprintSql,
    "winnow_fingerprint" -> WinnowFingerprintSql,
    // pair generation over the shared winnow fps CTE: df-capped (boiler-
    // plate fingerprints excluded), corroboration threshold n_shared >= 2
    "winnow_pairs" ->
      s"""$WinnowFpsCte,
         |dfs AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
         |rare AS (SELECT fp FROM dfs WHERE df > 1 AND df <= 64),
         |keyed AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        count(*) AS n_shared
         | FROM keyed a JOIN keyed b ON a.fp = b.fp AND a.doc_id < b.doc_id
         | GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin,
    // —— §2.9 similarity search ——
    "cosine_topk" ->
      s"""${simsCte(10)}
         | SELECT vec_id, floor((sim) * 1e6 + 0.5) / 1e6 AS sim FROM topk ORDER BY vec_id""".stripMargin,
    // MMR: greedy rounds unrolled as CTEs over integer micro-unit sims
    "mmr_topk" -> mmrSql(5, 50),
    // LSH degree histogram: candidate CTE + log2-bucket rollup
    "embed_knn_degree_hist" ->
      s"""WITH ${lshBucketCtes(16, 6, 64)},
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM bkt x JOIN bkt y
         |    ON x.tbl = y.tbl AND x.bucket = y.bucket
         |   AND x.vec_id < y.vec_id),
         |dg AS (
         |  SELECT vec_id, count(*) AS degree FROM (
         |    SELECT vec_a AS vec_id FROM cand
         |    UNION ALL SELECT vec_b FROM cand) GROUP BY vec_id),
         |alln AS (
         |  SELECT e.vec_id, coalesce(d.degree, 0) AS degree
         |  FROM embeddings e LEFT JOIN dg d USING (vec_id))
         | SELECT CASE WHEN degree = 0 THEN CAST(-1 AS BIGINT)
         |             ELSE CAST(length(bin(degree)) - 1 AS BIGINT)
         |        END AS bucket,
         |        count(*) AS n_vecs, CAST(min(degree) AS BIGINT)
         |          AS min_degree,
         |        CAST(max(degree) AS BIGINT) AS max_degree
         | FROM alln GROUP BY 1 ORDER BY bucket""".stripMargin,
    // MIPS: the cosine pipeline without the norm division
    "mips_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |prs AS (
        |  SELECT e.vec_id,
        |         unnest(e.embedding)::DOUBLE AS a, unnest(q.qv)::DOUBLE AS b
        |  FROM embeddings e, q WHERE e.vec_id <> 0),
        |sc AS (SELECT vec_id, sum(a*b) AS score FROM prs GROUP BY vec_id),
        |topk AS (SELECT * FROM sc ORDER BY score DESC, vec_id LIMIT 10)
        | SELECT vec_id, floor((score) * 1e6 + 0.5) / 1e6 AS score FROM topk
        | ORDER BY vec_id""".stripMargin,
    "knn_label_count" ->
      s"""${simsCte(50)}
         | SELECT label, count(*) AS n FROM topk GROUP BY label ORDER BY label""".stripMargin,
    "embed_topk_pairs" -> lshPairSql(16, 6, 64,
      """ SELECT vec_a, vec_b, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
        | FROM (SELECT * FROM sims ORDER BY sim DESC, vec_a, vec_b LIMIT 20)
        | ORDER BY vec_a, vec_b""".stripMargin),
    "ann_lsh_topk" -> annLshSql(10, 16, 6, 64),
    "ann_lsh_multiprobe_topk" -> annLshMultiprobeSql(10, 4, 6, 64),
    "ann_ivf_topk" -> annIvfSql(10, 16, 4),
    // the Lloyd rounds unrolled as chained CTEs (the embed_pca_project
    // discipline): milli-quantized sample → exact-integer training
    // cosines → floor-requantized means, then the standard IVF chain
    "ann_ivf_topk_kmeans" -> annIvfKmeansSql(10, 16, 4, 3, 2),
    // the batched forms: per-query probes/buckets + rank-filter top-k
    "ann_ivf_batch_topk" -> annIvfBatchSql(5, 10, 16, 4),
    // the store-served batch yields the same candidates (same frozen
    // quantizer + assignment), so it shares the batch oracle verbatim
    "ann_ivf_batch_store" -> annIvfBatchSql(5, 10, 16, 4),
    "ann_lsh_batch_topk" -> annLshBatchSql(5, 10, 16, 6, 64),
    // index-served ANN carries the same output contract as the
    // session-built forms (deterministic hyperplanes/quantizer; features
    // are per-row functions, so per-batch indexing changes nothing)
    "index_ann_lsh_topk" -> annLshSql(10, 16, 6, 64),
    "index_ann_ivf_topk" -> annIvfSql(10, 16, 4),
    "ann_ivf_topk_store" -> annIvfSql(10, 16, 4),
    "ivf_cell_stats" ->
      s"""${ivfAssignCtes(16)}
         |SELECT cid, count(*) AS n_vecs,
         |       floor((CAST(count(*) AS DOUBLE) /
         |             CAST((SELECT count(*) FROM assigned) AS DOUBLE)) * 1e6 + 0.5) / 1e6
         |         AS share
         |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin,
    // recall@k of both ANN candidate generators against the exact top-k,
    // on the registered parameterizations (16x6 LSH; 16-cell/4-probe IVF)
    "ann_recall" -> annRecallSql(10, 16, 6, 64, 16, 4),
    "ann_ivf_recall_sweep" -> annIvfSweepSql(10, 16, Seq(1, 2, 4, 8)),
    // per-vector symmetric int8 quantization with explicit floor(x+0.5)
    // rounding (identical in both engines); list folds mirror aggregate()
    "embed_quantize_error" -> {
      val err =
        "abs(x - floor(x / maxabs * 127 + 0.5) * maxabs / 127)"
      s"""WITH pv AS (
         |  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |m AS (
         |  SELECT label, v,
         |         greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
         |           AS maxabs
         |  FROM pv),
         |e AS (
         |  SELECT label,
         |         list_max(list_transform(v, x -> $err)) AS max_err,
         |         list_sum(list_transform(v, x -> $err * $err)) / len(v)
         |           AS mse
         |  FROM m)
         | SELECT label, count(*) AS n_vecs,
         |        floor((avg(max_err)) * 1e6 + 0.5) / 1e6 AS avg_max_err,
         |        floor((avg(mse)) * 1e6 + 0.5) / 1e6 AS avg_mse
         | FROM e GROUP BY label ORDER BY label""".stripMargin
    },
    // zipped unnest(range(len), embedding) mirrors posexplode; variance
    // is the same explicit avg(x^2) - avg(x)^2 with the greatest(0) guard
    "embed_dim_stats" ->
      s"""WITH prs AS (
         |  SELECT unnest(range(len(embedding))) AS dim,
         |         unnest(embedding)::DOUBLE AS x
         |  FROM embeddings)
         | SELECT dim, count(*) AS n_vecs,
         |        floor((avg(x)) * 1e6 + 0.5) / 1e6 AS mean,
         |        floor((sqrt(greatest(avg(x*x) - avg(x)*avg(x), 0))) * 1e6 + 0.5) / 1e6 AS std,
         |        min(x) AS lo, max(x) AS hi
         | FROM prs GROUP BY dim ORDER BY dim""".stripMargin,
    // centroid geometry: integer-rounded micro centroids, exact long
    // squared diffs, one closing sqrt
    // silhouette: integer centroid distances, per-vector score
    // re-quantized to micro-units before the per-label mean
    "embed_silhouette" ->
      """WITH cells AS (
        |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
        |           AS BIGINT) AS m
        |  FROM embeddings),
        |sums AS (
        |  SELECT label AS clabel, i, CAST(sum(m) AS BIGINT) AS s, count(*) AS n
        |  FROM cells GROUP BY 1, 2),
        |cent AS (
        |  SELECT clabel, i,
        |         CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS c
        |  FROM sums),
        |d2 AS (
        |  SELECT cl.vec_id, cl.label, ct.clabel,
        |         CAST(sum((cl.m - ct.c) * (cl.m - ct.c)) AS BIGINT) AS d2
        |  FROM cells cl JOIN cent ct ON cl.i = ct.i
        |  GROUP BY 1, 2, 3),
        |per AS (
        |  SELECT vec_id, label,
        |         sqrt(CAST(min(CASE WHEN clabel = label THEN d2 END)
        |           AS DOUBLE)) / 1e6 AS a,
        |         sqrt(CAST(min(CASE WHEN clabel <> label THEN d2 END)
        |           AS DOUBLE)) / 1e6 AS b
        |  FROM d2 GROUP BY 1, 2),
        |sq AS (
        |  SELECT label,
        |         CASE WHEN greatest(a, b) > 0
        |              THEN CAST(floor((b - a) / greatest(a, b) * 1e6 + 0.5)
        |                     AS BIGINT)
        |              ELSE 0 END AS sq
        |  FROM per)
        | SELECT label, count(*) AS n_vecs,
        |        floor((CAST(sum(sq) AS DOUBLE) / 1e6 / count(*)) * 1e6 + 0.5) / 1e6
        |          AS mean_silhouette
        | FROM sq GROUP BY label ORDER BY label""".stripMargin,
    // batch-parity centroid drift: the centroid-distance integer math
    // split on vec_id parity (the feature-index ingest batches)
    "embed_centroid_shift" ->
      """WITH cells AS (
        |  SELECT label, vec_id % 2 AS batch,
        |         unnest(range(1, len(embedding) + 1)) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
        |           AS BIGINT) AS m
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, batch, i, CAST(sum(m) AS BIGINT) AS s, count(*) AS n
        |  FROM cells GROUP BY 1, 2, 3),
        |cent AS (
        |  SELECT label, batch, i,
        |         CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS c, n
        |  FROM sums)
        | SELECT a.label AS label, max(a.n) AS n_even, max(b.n) AS n_odd,
        |        floor((sqrt(CAST(sum((a.c - b.c) * (a.c - b.c)) AS DOUBLE))
        |              / 1e6) * 1e6 + 0.5) / 1e6 AS shift
        | FROM cent a JOIN cent b
        |   ON a.label = b.label AND a.i = b.i
        |  AND a.batch = 0 AND b.batch = 1
        | GROUP BY a.label
        | ORDER BY a.label""".stripMargin,
    "embed_centroid_distances" ->
      """WITH cells AS (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5)
        |           AS BIGINT) AS m
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, i, CAST(sum(m) AS BIGINT) AS s, count(*) AS n
        |  FROM cells GROUP BY label, i),
        |cent AS (
        |  SELECT label, i,
        |         CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS c
        |  FROM sums)
        | SELECT a.label AS label_a, b.label AS label_b,
        |        floor((sqrt(CAST(sum((a.c - b.c) * (a.c - b.c)) AS DOUBLE))
        |              / 1e6) * 1e6 + 0.5) / 1e6 AS dist
        | FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        | GROUP BY a.label, b.label
        | ORDER BY label_a, label_b""".stripMargin,
    // the power-iteration rounds UNROLLED as chained CTEs: every round's
    // integer direction is bit-identical to the engine's driver loop
    // (decimal/hugeint accumulations, one shared renormalization
    // expression), so the closing per-label stats hash-match
    "embed_pca_project" -> {
      val iters = 8
      val rounds = (1 to iters).map { k =>
        val xs = if (k == 1) "x0" else s"x${k - 1}"
        s"""xl$k AS (SELECT list(x ORDER BY i) AS xv FROM $xs),
           |mux$k AS (SELECT sum(m.m * x.x) AS mx FROM mu m JOIN $xs x USING (i)),
           |s$k AS (
           |  SELECT vec_id, label, em,
           |         list_sum(list_transform(range(1, 65), i -> em[i] * xv[i]))
           |           - (SELECT mx FROM mux$k) AS sc
           |  FROM em, xl$k),
           |y$k AS (
           |  SELECT d.i,
           |         sum(CAST(s.em[d.i] AS HUGEINT) * CAST(s.sc AS HUGEINT)) AS ys,
           |         sum(CAST(s.sc AS HUGEINT)) AS ss
           |  FROM s$k s, dim d GROUP BY d.i),
           |yy$k AS (
           |  SELECT y.i, ys - CAST(m.m AS HUGEINT) * ss AS y
           |  FROM y$k y JOIN mu m USING (i)),
           |mx$k AS (SELECT CAST(max(abs(y)) AS DOUBLE) AS ma FROM yy$k),
           |x$k AS MATERIALIZED (
           |  SELECT i, CAST(floor(CAST(y AS DOUBLE) * 1000.0
           |    / (SELECT ma FROM mx$k) + 0.5) AS BIGINT) AS x
           |  FROM yy$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH em AS MATERIALIZED (
         |  SELECT vec_id, label,
         |         list_transform(embedding, v ->
         |           CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS em
         |  FROM embeddings),
         |dim AS (SELECT unnest(range(1, 65)) AS i),
         |ms AS (SELECT d.i, sum(em[d.i]) AS s, count(*) AS n
         |       FROM em, dim d GROUP BY d.i),
         |mu AS MATERIALIZED (
         |  SELECT i, CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT)
         |         AS m FROM ms),
         |x0 AS (SELECT i, CAST(1000 AS BIGINT) AS x FROM dim),
         |$rounds,
         |xlF AS (SELECT list(x ORDER BY i) AS xv FROM x$iters),
         |muxF AS (SELECT sum(m.m * x.x) AS mx FROM mu m JOIN x$iters x USING (i)),
         |proj AS (
         |  SELECT label,
         |         list_sum(list_transform(range(1, 65), i -> em[i] * xv[i]))
         |           - (SELECT mx FROM muxF) AS p
         |  FROM em, xlF)
         | SELECT label, count(*) AS n_vecs,
         |        floor((CAST(sum(CAST(p AS HUGEINT)) AS DOUBLE)
         |              / (count(*) * 1e9)) * 1e6 + 0.5) / 1e6 AS avg_proj,
         |        floor((CAST(min(p) AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS min_proj,
         |        floor((CAST(max(p) AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS max_proj
         | FROM proj GROUP BY label ORDER BY label""".stripMargin
    },
    // top-10 |corr| dim pairs from exact integer milli-unit moments
    // (n·Σm₁m₂ − Σm₁Σm₂ etc.), one IEEE closing sequence, bit-stable rank
    "embed_covariance" ->
      """WITH cells AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
        |           AS m
        |  FROM embeddings),
        |ds AS (
        |  SELECT dim, count(*) AS n, CAST(sum(m) AS BIGINT) AS sm,
        |         CAST(sum(m * m) AS BIGINT) AS smm
        |  FROM cells GROUP BY dim),
        |pp AS (
        |  SELECT a.dim AS d1, b.dim AS d2,
        |         CAST(sum(a.m * b.m) AS BIGINT) AS sp
        |  FROM cells a JOIN cells b
        |    ON a.vec_id = b.vec_id AND a.dim < b.dim
        |  GROUP BY 1, 2),
        |cv AS (
        |  SELECT d1, d2, s1.n AS n,
        |         s1.n * sp - s1.sm * s2.sm AS cov_s,
        |         s1.n * s1.smm - s1.sm * s1.sm AS v1,
        |         s2.n * s2.smm - s2.sm * s2.sm AS v2
        |  FROM pp JOIN ds s1 ON s1.dim = d1 JOIN ds s2 ON s2.dim = d2),
        |cr AS (
        |  SELECT d1, d2, n, cov_s,
        |         cov_s / sqrt(CAST(v1 AS DOUBLE) * CAST(v2 AS DOUBLE))
        |           AS corr0
        |  FROM cv)
        | SELECT d1, d2,
        |        floor((CAST(cov_s AS DOUBLE) / (n * n) / 1e6) * 1e6 + 0.5) / 1e6 AS cov,
        |        floor((corr0) * 1e6 + 0.5) / 1e6 AS corr
        | FROM cr ORDER BY abs(corr0) DESC, d1, d2 LIMIT 10""".stripMargin,
    // PQ ANN (trained codebook): integer milli-unit subvector distances
    // end-to-end, Lloyd rounds unrolled; ranks on the rounded ADC
    // distance with vec_id ties — fully deterministic
    "ann_pq_topk" -> PqTopkTrainedSql,
    // the deterministic seed-codebook face keeps the original chain
    "ann_pq_topk_seed" -> PqTopkSql,
    // SQ8: per-dim affine codes -> integer code-L2 candidate cut ->
    // exact milli-L2 rerank; every stage integer-exact in both engines
    "ann_sq8_topk" ->
      """WITH cells AS (
        |  SELECT vec_id, unnest(range(len(embedding))) AS dim,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
        |           AS mv
        |  FROM embeddings),
        |stats AS (
        |  SELECT dim, min(mv) AS mn,
        |         greatest(max(mv) - min(mv), 1) AS span
        |  FROM cells GROUP BY dim),
        |codes AS (
        |  SELECT c.vec_id, c.dim,
        |         CAST(floor((c.mv - s.mn) * 255 / (s.span * 1.0) + 0.5)
        |              AS BIGINT) AS code
        |  FROM cells c JOIN stats s USING (dim)),
        |qc AS (SELECT dim, code AS qcode FROM codes WHERE vec_id = 0),
        |al AS (
        |  SELECT c.vec_id,
        |         CAST(sum((c.code - q.qcode) * (c.code - q.qcode))
        |              AS BIGINT) AS al2
        |  FROM codes c JOIN qc q USING (dim)
        |  WHERE c.vec_id <> 0 GROUP BY c.vec_id),
        |cand AS (SELECT vec_id FROM al ORDER BY al2, vec_id LIMIT 30),
        |qm AS (SELECT dim, mv AS qmv FROM cells WHERE vec_id = 0),
        |ex AS (
        |  SELECT c.vec_id,
        |         CAST(sum((c.mv - q.qmv) * (c.mv - q.qmv)) AS BIGINT)
        |           AS dist2
        |  FROM cells c JOIN cand USING (vec_id) JOIN qm q USING (dim)
        |  GROUP BY c.vec_id)
        | SELECT vec_id, floor((sqrt(dist2 * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS dist
        | FROM ex ORDER BY dist, vec_id LIMIT 10""".stripMargin,
    "ann_ivfpq_topk" -> IvfPqTrainedSql,
    // the SAME top-k served from the ingest-maintained codes table +
    // frozen TRAINED codebook — identical output contract, identical
    // oracle
    "index_ann_pq_topk" -> PqTopkTrainedSql,
    "index_ann_ivfpq_topk" -> IvfPqTrainedSql,

    // seed and Lloyd-trained PQ chains (4 training rounds unrolled as
    // exact-integer CTEs) vs the shared exact milli-L2 baseline
    "ann_pq_recall_trained" -> annPqRecallTrainedSql(10, 2, 16, 4, 2),
    // PQ recall vs the exact integer-L2 top-k: both rankings are
    // exact-integer, so the overlap is bit-reproducible
    "ann_pq_recall" ->
      """WITH cells AS (
        |  SELECT vec_id,
        |         unnest(range(len(embedding))) AS dim,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
        |           AS mv
        |  FROM embeddings),
        |pc AS (
        |  SELECT vec_id, CAST(dim // 8 AS INTEGER) AS sub,
        |         dim % 8 AS d, mv
        |  FROM cells),
        |cb AS (
        |  SELECT sub, d, CAST(vec_id AS INTEGER) AS cid, mv AS cm
        |  FROM pc WHERE vec_id < 16),
        |dist AS (
        |  SELECT p.vec_id, p.sub, c.cid,
        |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS dist2
        |  FROM pc p JOIN cb c ON c.sub = p.sub AND c.d = p.d
        |  GROUP BY 1, 2, 3),
        |codes AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT vec_id, sub, cid,
        |           row_number() OVER (PARTITION BY vec_id, sub
        |             ORDER BY dist2, cid) AS rk
        |    FROM dist) WHERE rk = 1),
        |adc AS (
        |  SELECT p.sub, c.cid,
        |         CAST(sum((p.mv - c.cm) * (p.mv - c.cm)) AS BIGINT) AS adist2
        |  FROM pc p JOIN cb c ON c.sub = p.sub AND c.d = p.d
        |  WHERE p.vec_id = 0
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT co.vec_id, CAST(sum(a.adist2) AS BIGINT) AS score
        |  FROM codes co JOIN adc a ON a.sub = co.sub AND a.cid = co.cid
        |  WHERE co.vec_id <> 0
        |  GROUP BY co.vec_id),
        |pq AS (
        |  SELECT vec_id, floor((sqrt(score * 1.0) / 1e3) * 1e6 + 0.5) / 1e6 AS approx_dist
        |  FROM sc ORDER BY approx_dist, vec_id LIMIT 10),
        |q AS (SELECT sub, d, mv AS qm FROM pc WHERE vec_id = 0),
        |ex AS (
        |  SELECT p.vec_id,
        |         CAST(sum((p.mv - q.qm) * (p.mv - q.qm)) AS BIGINT) AS dist2
        |  FROM pc p JOIN q ON q.sub = p.sub AND q.d = p.d
        |  WHERE p.vec_id <> 0
        |  GROUP BY p.vec_id
        |  ORDER BY dist2, vec_id LIMIT 10)
        | SELECT 'pq' AS method, count(*) AS n_hits,
        |        floor((count(*) * 1.0 / 10) * 1e6 + 0.5) / 1e6 AS recall
        | FROM pq JOIN ex USING (vec_id)""".stripMargin,
    // centroid outliers: per-dim deviation m·n − Σm clears the centroid
    // division, so d2 is a sum of exact longs — rank-stable by design
    "embed_outliers" ->
      """WITH cells AS (
        |  SELECT vec_id, label,
        |         unnest(range(len(embedding))) AS dim,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1e3 + 0.5) AS BIGINT)
        |           AS m
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, dim, count(*) AS n, CAST(sum(m) AS BIGINT) AS sm
        |  FROM cells GROUP BY label, dim),
        |d AS (
        |  SELECT c.vec_id, c.label,
        |         CAST(sum((c.m * ct.n - ct.sm) * (c.m * ct.n - ct.sm))
        |           AS BIGINT) AS d2,
        |         max(ct.n) AS n
        |  FROM cells c JOIN cent ct ON ct.label = c.label AND ct.dim = c.dim
        |  GROUP BY c.vec_id, c.label),
        |r AS (
        |  SELECT label, vec_id, d2, n,
        |         CAST(row_number() OVER (PARTITION BY label
        |           ORDER BY d2 DESC, vec_id) AS BIGINT) AS rnk
        |  FROM d)
        | SELECT label, rnk, vec_id,
        |        floor((sqrt(d2 * 1.0) / n / 1e3) * 1e6 + 0.5) / 1e6 AS dist
        | FROM r WHERE rnk <= 3 ORDER BY label, rnk""".stripMargin,
    "embed_neardup" -> lshPairSql(16, 6, 64,
      """ SELECT vec_a, vec_b, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
        | FROM sims WHERE sim >= 0.4
        | ORDER BY vec_a, vec_b""".stripMargin),
    // embedding-side incremental admission: relabel the verified sim
    // stream by the vec_id md5-bucket batch split (rejected = the new
    // or larger-id member), best incumbent per rejected vector
    "embed_dedup_incremental" -> EmbedDedupIncrementalSql,
    // the SAME admission verdicts served from the persisted emb_buckets
    // index (batch-restricted candidate join — work ∝ batch): identical
    // candidate set, scoring and labeling, so the oracle is shared
    "index_embed_dedup_incremental" -> EmbedDedupIncrementalSql,
    // per-label admission summary of the embedding batch
    "embed_dedup_incremental_stats" -> lshPairSql(16, 6, 64, tail =
      s""",nf AS (SELECT vec_id, (${md5BucketSql(4, 10L, "vec_id")} >= 8)
         |          AS is_new
         |        FROM embeddings),
         |rej AS (
         |  SELECT DISTINCT
         |         CASE WHEN fb.is_new THEN s.vec_b ELSE s.vec_a END AS vec_id
         |  FROM sims s
         |  JOIN nf fa ON fa.vec_id = s.vec_a
         |  JOIN nf fb ON fb.vec_id = s.vec_b
         |  WHERE s.sim >= 0.4 AND (fa.is_new OR fb.is_new))
         | SELECT e.label, count(*) AS n_new,
         |        CAST(sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_rejected,
         |        floor((sum(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |              * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS reject_ratio
         | FROM embeddings e
         | JOIN nf f ON f.vec_id = e.vec_id AND f.is_new
         | LEFT JOIN rej r ON r.vec_id = e.vec_id
         | GROUP BY e.label ORDER BY e.label""".stripMargin),
    // one scored-candidate pass, counts at every ladder threshold
    "embed_threshold_sweep" -> lshPairSql(16, 6, 64,
      Seq(0.3, 0.35, 0.4, 0.45, 0.5).map { t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |          CAST(sum(CASE WHEN sim >= $t THEN 1 ELSE 0 END)
           |               AS BIGINT) AS n_pairs FROM sims""".stripMargin
      }.mkString(" SELECT * FROM (\n", "\n   UNION ALL ",
        ")\n ORDER BY threshold")),
    // SemDeDup: same-IVF-cell pairs, exact cosine >= threshold — the
    // assignment CTEs are the shared IVF quantizer oracle
    "semdedup" ->
      s"""${ivfAssignCtes(16)},
         |pr AS (
         |  SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assigned a JOIN assigned b USING (cid)
         |  WHERE a.vec_id < b.vec_id),
         |prx AS (
         |  SELECT pr.cid, pr.vec_a, pr.vec_b,
         |         unnest(ea.embedding)::DOUBLE AS x,
         |         unnest(eb.embedding)::DOUBLE AS y
         |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.vec_a
         |          JOIN embeddings eb ON eb.vec_id = pr.vec_b),
         |sims2 AS (
         |  SELECT cid, vec_a, vec_b,
         |         sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS sim
         |  FROM prx GROUP BY cid, vec_a, vec_b)
         | SELECT cid, vec_a, vec_b, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
         | FROM sims2 WHERE sim >= 0.4
         | ORDER BY cid, vec_a, vec_b""".stripMargin,
    // radius search: the cosine band filter over the single-query scan
    "ann_range_search" ->
      """WITH q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |prs AS (
        |  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
        |         unnest(q.qv)::DOUBLE AS b
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        |sims AS (
        |  SELECT vec_id, sum(a*b)/(sqrt(sum(a*a))*sqrt(sum(b*b))) AS sim
        |  FROM prs GROUP BY vec_id)
        | SELECT vec_id, floor((sim) * 1e6 + 0.5) / 1e6 AS sim
        | FROM sims WHERE sim >= 0.25 ORDER BY vec_id""".stripMargin,
    // connected components of the VERIFIED STAR edge graph over the LSH
    // buckets (same connectivity-scale candidate stream + recursive-
    // reachability shape as dedup_clusters)
    "embed_clusters" -> lshPairSql(16, 6, 64, star = true, tail =
      """,prs2 AS (SELECT vec_a, vec_b FROM sims WHERE sim >= 0.4),
        |edges2 AS (
        |  SELECT vec_a AS s, vec_b AS d FROM prs2
        |  UNION ALL SELECT vec_b, vec_a FROM prs2),
        |reach AS (
        |  SELECT s AS id, s AS label FROM edges2
        |  UNION
        |  SELECT e.s, r.label FROM edges2 e JOIN reach r ON e.d = r.id),
        |cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        | SELECT cluster_id, count(*) AS n_vecs FROM cl
        | GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
      recursive = true),
    // the kept vector set: drop every clustered vector that is not its
    // cluster's min id (vector analog of dedup_apply, star candidates)
    "embed_apply" -> lshPairSql(16, 6, 64, star = true, tail =
      """,prs2 AS (SELECT vec_a, vec_b FROM sims WHERE sim >= 0.4),
        |edges2 AS (
        |  SELECT vec_a AS s, vec_b AS d FROM prs2
        |  UNION ALL SELECT vec_b, vec_a FROM prs2),
        |reach AS (
        |  SELECT s AS id, s AS label FROM edges2
        |  UNION
        |  SELECT e.s, r.label FROM edges2 e JOIN reach r ON e.d = r.id),
        |nonkeep AS (SELECT id FROM reach GROUP BY id HAVING id != min(label))
        | SELECT e.vec_id, e.label FROM embeddings e
        | WHERE e.vec_id NOT IN (SELECT id FROM nonkeep)
        | ORDER BY e.vec_id""".stripMargin,
      recursive = true),
    // —— §2.9 events ——
    "events_sessionize" -> SessionizeSql,
    // the pre-bucketed (skew-safe) plan must stitch to the IDENTICAL
    // session set — same oracle
    "events_sessionize_bucketed" -> SessionizeSql,
    // session-shape histogram over the sessionize result: capped
    // n_events buckets, exact integer duration sums, one closing division
    "session_stats" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id FROM events),
        |m AS (
        |  SELECT user_id, s, event_id,
        |         CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 3600
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |sess AS (
        |  SELECT user_id, s,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY s, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM m),
        |agg AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |         min(s) AS start_s, max(s) AS end_s
        |  FROM sess GROUP BY user_id, session_id),
        |b AS (
        |  SELECT least(n_events, 10) AS bucket, end_s - start_s AS dur_s
        |  FROM agg)
        | SELECT bucket, count(*) AS n_sessions,
        |        CAST(sum(dur_s) AS BIGINT) AS total_seconds,
        |        floor((CAST(sum(dur_s) AS BIGINT) / (count(*) * 1.0)) * 1e6 + 0.5) / 1e6
        |          AS avg_seconds
        | FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // lifetime user-set overlap per type pair: distinct cells, bounded
    // pair join, exact integer Jaccard inputs
    "event_user_overlap" ->
      """WITH cells AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n FROM cells GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM cells a JOIN cells b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        | SELECT p.type_a, p.type_b, p.n_both,
        |        floor((CAST(p.n_both AS DOUBLE)
        |              / (sa.n + sb.n - p.n_both)) * 1e6 + 0.5) / 1e6 AS jaccard
        | FROM pairs p
        | JOIN sizes sa ON sa.event_type = p.type_a
        | JOIN sizes sb ON sb.event_type = p.type_b
        | ORDER BY p.type_a, p.type_b""".stripMargin,
    // per-(user, type) gaps through the exact sort-based quantile frame
    // (the doc_length_quantiles arithmetic verbatim)
    "event_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS s,
        |         event_id
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |         s - lag(s) OVER (PARTITION BY user_id, event_type
        |                          ORDER BY s, event_id) AS gap_s
        |  FROM e),
        |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |ranked AS (
        |  SELECT event_type, gap_s,
        |         row_number() OVER (PARTITION BY event_type ORDER BY gap_s)
        |           - 1 AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM gg),
        |targets AS (
        |  SELECT DISTINCT event_type, n, p, p * (n - 1) AS h,
        |         CAST(floor(p * (n - 1)) AS BIGINT) AS lo,
        |         CAST(ceil(p * (n - 1)) AS BIGINT) AS hi
        |  FROM ranked, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |                       (CAST(0.99 AS DOUBLE))) pv(p))
        |SELECT t.event_type, t.p,
        |       floor((CAST(rl.gap_s AS DOUBLE) +
        |             CAST(rh.gap_s - rl.gap_s AS DOUBLE) *
        |             (t.h - CAST(t.lo AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS q
        |FROM targets t
        |JOIN ranked rl ON rl.event_type = t.event_type AND rl.rn = t.lo
        |JOIN ranked rh ON rh.event_type = t.event_type AND rh.rn = t.hi
        |ORDER BY t.event_type, t.p""".stripMargin,
    // per-origin transition entropy: the transition counts rolled to
    // integer micro-nat entropy (ln n − Σ c·ln c / n)
    "event_markov_entropy" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id, event_type
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id)
        |           AS prev_type
        |  FROM e),
        |tr AS (
        |  SELECT prev_type AS from_type, event_type AS to_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM m WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        | SELECT from_type, CAST(sum(n) AS BIGINT) AS n_transitions,
        |        count(*) AS n_to_types,
        |        floor((CAST(floor((ln(CAST(sum(n) AS BIGINT))
        |          - sum(n * ln(n)) / CAST(sum(n) AS BIGINT)) * 1000000.0 + 0.5)
        |          AS BIGINT) / 1000000.0) * 1e6 + 0.5) / 1e6 AS entropy
        | FROM tr GROUP BY from_type ORDER BY from_type""".stripMargin,
    // conversion latency: the funnel cascade's first-reach times paired
    // per user, exact integer-microsecond delta sums
    "funnel_time_to_convert" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS s, event_type FROM events),
        |r0 AS (SELECT user_id, min(s) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |r1 AS (SELECT e.user_id, min(e.s) AS t FROM e
        |       JOIN r0 ON e.user_id = r0.user_id
        |       WHERE e.event_type = 'click' AND e.s >= r0.t GROUP BY e.user_id),
        |r2 AS (SELECT e.user_id, min(e.s) AS t FROM e
        |       JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'purchase' AND e.s >= r1.t GROUP BY e.user_id),
        |c1 AS (SELECT r0.user_id, r0.t AS t0, r1.t AS t1
        |       FROM r0 JOIN r1 USING (user_id)),
        |c2 AS (SELECT r1.user_id, r1.t AS t1, r2.t AS t2
        |       FROM r1 JOIN r2 USING (user_id))
        | SELECT * FROM (
        |   SELECT CAST(0 AS BIGINT) AS stage_idx,
        |          'view->click' AS stage_pair, count(*) AS n_converted,
        |          floor((CAST(sum((t1 - t0) // 1000) AS BIGINT)
        |                / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6 AS avg_seconds
        |   FROM c1
        |   UNION ALL
        |   SELECT 1, 'click->purchase', count(*),
        |          floor((CAST(sum((t2 - t1) // 1000) AS BIGINT)
        |                / (count(*) * 1000000.0)) * 1e6 + 0.5) / 1e6
        |   FROM c2)
        | ORDER BY stage_idx""".stripMargin,
    // stage ordering at RAW ns resolution (matches EventOps.funnel: a
    // repeated stage must advance on a strictly-later ns event)
    "funnel_stages" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS s, event_type FROM events),
        |r0 AS (SELECT user_id, min(s) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |r1 AS (SELECT e.user_id, min(e.s) AS t FROM e
        |       JOIN r0 ON e.user_id = r0.user_id
        |       WHERE e.event_type = 'click' AND e.s >= r0.t GROUP BY e.user_id),
        |r2 AS (SELECT e.user_id, min(e.s) AS t FROM e
        |       JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'purchase' AND e.s >= r1.t GROUP BY e.user_id)
        | SELECT * FROM (
        |   SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |          count(*) AS users FROM r0
        |   UNION ALL SELECT 1, 'click', count(*) FROM r1
        |   UNION ALL SELECT 2, 'purchase', count(*) FROM r2)
        | ORDER BY stage_idx""".stripMargin,
    // windowed funnel: the funnel_stages cascade with the extra
    // integer deadline s <= t0 + 86400e9 ns at every later stage
    "funnel_windowed" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS s, event_type FROM events),
        |r0 AS (SELECT user_id, min(s) AS t, min(s) AS t0 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |r1 AS (SELECT e.user_id, min(e.s) AS t, min(r0.t0) AS t0 FROM e
        |       JOIN r0 ON e.user_id = r0.user_id
        |       WHERE e.event_type = 'click' AND e.s >= r0.t
        |         AND e.s <= r0.t0 + 86400000000000 GROUP BY e.user_id),
        |r2 AS (SELECT e.user_id, min(e.s) AS t FROM e
        |       JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'purchase' AND e.s >= r1.t
        |         AND e.s <= r1.t0 + 86400000000000 GROUP BY e.user_id)
        | SELECT * FROM (
        |   SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |          count(*) AS users FROM r0
        |   UNION ALL SELECT 1, 'click', count(*) FROM r1
        |   UNION ALL SELECT 2, 'purchase', count(*) FROM r2)
        | ORDER BY stage_idx""".stripMargin,
    "event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id, event_type
        |  FROM events),
        |m AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id)
        |           AS prev_type
        |  FROM e)
        | SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        | FROM m WHERE prev_type IS NOT NULL
        | GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "event_pagerank" -> PagerankSql,
    // DAU + exact trailing-7-day WAU: the sliding distinct is fanned out
    // to its window-end days and re-deduplicated (not decomposable)
    "active_users" ->
      """WITH du AS (
        |  SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS day,
        |         user_id
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
        |fan AS (
        |  SELECT DISTINCT du.day + i AS day, du.user_id
        |  FROM du, unnest(generate_series(0, 6)) AS t(i)),
        |wau AS (SELECT day, count(*) AS wau FROM fan GROUP BY day)
        | SELECT d.day, d.dau, w.wau
        | FROM dau d JOIN wau w USING (day)
        | ORDER BY day""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s FROM events),
        |w AS (SELECT DISTINCT user_id, s - (s % 604800) AS w FROM e),
        |c AS (SELECT user_id, min(w) AS cohort_w FROM w GROUP BY user_id)
        | SELECT c.cohort_w,
        |        CAST((w.w - c.cohort_w) // 604800 AS BIGINT) AS week_offset,
        |        count(*) AS n_users
        | FROM w JOIN c USING (user_id)
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "json_props" ->
      """SELECT event_type, count(k) AS n, floor((avg(k)) * 1e6 + 0.5) / 1e6 AS avg_k,
        |        min(k) AS min_k, max(k) AS max_k
        | FROM (SELECT event_type,
        |              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |       FROM events)
        | GROUP BY event_type ORDER BY event_type""".stripMargin,
    // as-of join: the oracle is DuckDB's NATIVE ASOF LEFT JOIN (inclusive
    // e.ts >= q.ts); both engine forms (union-window and day-bucketed)
    // hash against this identical statement
    "events_asof_value" -> AsofOracleSql,
    "events_asof_value_bucketed" -> AsofOracleSql,
    // last-touch attribution: the naive per-purchase argmax-prior-touch
    // replay (rk=1 over the full prior-touch join) the engine's running
    // window computes in O(n) per user
    "event_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_ns(ts) // 1000000000 AS s, value
        |  FROM events),
        |p AS (SELECT event_id, user_id, s, value FROM e
        |      WHERE event_type = 'purchase'),
        |t AS (SELECT event_id, user_id, s, event_type FROM e
        |      WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT p.event_id AS pe, p.s AS ps, p.value,
        |         t.s AS tsv, t.event_type AS ch,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY t.s DESC, t.event_id DESC) AS rk
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND (t.s < p.s OR (t.s = p.s AND t.event_id < p.event_id))),
        |a AS (
        |  SELECT pe, value,
        |         CASE WHEN tsv IS NOT NULL AND ps - tsv <= 86400
        |              THEN ch ELSE 'none' END AS channel
        |  FROM j WHERE rk = 1)
        | SELECT channel, count(*) AS n_purchases,
        |        floor((CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
        |                   AS BIGINT) / 1e6) * 1e6 + 0.5) / 1e6 AS sum_value
        | FROM a GROUP BY channel ORDER BY channel""".stripMargin,
    // daily volume z-scores: n/Σc/Σc² as exact integer window sums, then
    // one fixed IEEE op sequence (no builtin stddev — its accumulation
    // order is engine-dependent); degenerate groups yield null z
    "event_anomaly" ->
      """WITH d AS (
        |  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, n_events,
        |         count(*) OVER w AS n,
        |         sum(n_events) OVER w AS s1,
        |         sum(n_events * n_events) OVER w AS s2
        |  FROM d WINDOW w AS (PARTITION BY event_type)),
        |v AS (
        |  SELECT event_type, day, n_events, n, s1,
        |         (s2 - s1 * s1 * 1.0 / n) / (n - 1) AS varr
        |  FROM s),
        |z AS (
        |  SELECT event_type, day, n_events,
        |         CASE WHEN n > 1 AND varr > 0
        |              THEN (n_events - s1 * 1.0 / n) / sqrt(varr) END AS z
        |  FROM v)
        | SELECT event_type, day, n_events, z, abs(z) >= 2.0 AS is_anomaly
        | FROM z ORDER BY event_type, day""".stripMargin,
    // RFM: exact-integer per-user summary, total-order ntile quartiles
    "events_rfm" ->
      """WITH per AS (
        |  SELECT user_id,
        |         max(epoch_ns(ts) // 1000000000) AS recency_s,
        |         count(*) AS frequency,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |              THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT)
        |              ELSE 0 END) AS BIGINT) AS monetary_micro
        |  FROM events GROUP BY user_id),
        |q AS (
        |  SELECT user_id, monetary_micro,
        |         CAST(ntile(4) OVER (ORDER BY recency_s, user_id) AS BIGINT)
        |           AS r_q,
        |         CAST(ntile(4) OVER (ORDER BY frequency, user_id) AS BIGINT)
        |           AS f_q,
        |         CAST(ntile(4) OVER (ORDER BY monetary_micro, user_id)
        |           AS BIGINT) AS m_q
        |  FROM per)
        | SELECT r_q, f_q, m_q, count(*) AS n_users,
        |        sum(monetary_micro) / 1e6 AS segment_value
        | FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin,
    // session paths: the sessionize CTE carrying event_type, first-8
    // steps joined with '>', counted, top-20 by (n DESC, path)
    "event_path_topk" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS s, event_id,
        |         event_type
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, event_id, event_type,
        |         CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 3600
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |sess AS (
        |  SELECT user_id, s, event_id, event_type,
        |         sum(new_session) OVER (PARTITION BY user_id
        |           ORDER BY s, event_id ROWS UNBOUNDED PRECEDING)
        |           AS session_id
        |  FROM m),
        |st AS (
        |  SELECT user_id, session_id, event_type,
        |         row_number() OVER (PARTITION BY user_id, session_id
        |           ORDER BY s, event_id) AS step
        |  FROM sess),
        |p AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '>' ORDER BY step) AS path
        |  FROM st WHERE step <= 8 GROUP BY 1, 2)
        | SELECT path, count(*) AS n FROM p GROUP BY path
        | ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // space-saving audit: the oracle recomputes the weighted exact
    // counts + the provable-heavy-hitter threshold set and pins the
    // presence and bracket booleans to TRUE — Metwally et al. 2005
    // guarantees both for ANY arrival order, so a Spark summary that
    // ever under-summarizes or brackets wrong hash-mismatches
    "event_heavy_hitters_approx" ->
      """WITH sh AS (
        |  SELECT user_id % 4 AS shard, user_id AS item,
        |         CASE WHEN user_id % 5 = 0 THEN 10 ELSE 1 END AS k
        |  FROM events WHERE user_id IS NOT NULL),
        |tot AS (SELECT shard, CAST(sum(k) AS BIGINT) AS n
        |        FROM sh GROUP BY shard),
        |ex AS (SELECT shard, item, CAST(sum(k) AS BIGINT) AS exact_cnt
        |       FROM sh GROUP BY shard, item)
        | SELECT CAST(e.shard AS INTEGER) AS shard, e.item, e.exact_cnt,
        |        TRUE AS in_summary, TRUE AS bracket_ok
        | FROM ex e JOIN tot t ON e.shard = t.shard
        | WHERE e.exact_cnt * 16 > t.n
        | ORDER BY shard, item""".stripMargin,
    // per-day type-mix KL drift: the source_kl micro-nat shape
    "event_mix_drift" ->
      """WITH dt AS (
        |  SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, event_type,
        |         CAST(count(*) AS BIGINT) AS cd
        |  FROM events GROUP BY 1, 2),
        |ov AS (SELECT event_type, CAST(sum(cd) AS BIGINT) AS cf
        |       FROM dt GROUP BY 1),
        |dtot AS (SELECT day, CAST(sum(cd) AS BIGINT) AS nd
        |         FROM dt GROUP BY 1),
        |g AS (SELECT CAST(sum(cf) AS BIGINT) AS nn FROM ov),
        |kl AS (
        |  SELECT dt.day, any_value(nd) AS n_events,
        |         CAST(floor(sum(cd * ln(CAST(cd * nn AS DOUBLE)
        |               / CAST(nd * cf AS DOUBLE)))
        |           / any_value(nd) * 1000000.0 + 0.5) AS BIGINT) AS klu
        |  FROM dt JOIN ov USING (event_type) JOIN dtot USING (day)
        |  CROSS JOIN g
        |  GROUP BY dt.day)
        | SELECT day, n_events, floor((klu / 1000000.0) * 1e6 + 0.5) / 1e6 AS kl
        | FROM kl ORDER BY day""".stripMargin,
    // hour-of-day rhythm: (type, hour) counts + within-type share
    "event_seasonality" ->
      """WITH h AS (
        |  SELECT event_type,
        |         (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hour,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS tot FROM h GROUP BY 1)
        | SELECT h.event_type, CAST(h.hour AS BIGINT) AS hour, h.n,
        |        floor((h.n * 1.0 / t.tot) * 1e6 + 0.5) / 1e6 AS share
        | FROM h JOIN t USING (event_type)
        | ORDER BY event_type, hour""".stripMargin,
    // LTV deciles: integer micro-unit totals, the RFM ntile contract
    "user_value_deciles" ->
      """WITH per AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |                        AND value IS NOT NULL
        |              THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT)
        |              ELSE 0 END) AS BIGINT) AS tvm
        |  FROM events GROUP BY user_id),
        |d AS (
        |  SELECT tvm, CAST(ntile(10) OVER (ORDER BY tvm, user_id) AS BIGINT)
        |           AS decile
        |  FROM per)
        | SELECT decile, count(*) AS n_users,
        |        floor((sum(tvm) / 1e6) * 1e6 + 0.5) / 1e6 AS sum_value,
        |        floor((min(tvm) / 1e6) * 1e6 + 0.5) / 1e6 AS min_value,
        |        floor((max(tvm) / 1e6) * 1e6 + 0.5) / 1e6 AS max_value
        | FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    // skew histogram: ⌊log2 n⌋ via the integer's binary-string length —
    // never floating log2 (boundary values differ between ln-ratio and
    // native implementations)
    "user_activity_hist" ->
      """WITH pu AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        | SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |        count(*) AS n_users,
        |        min(n) AS min_events, max(n) AS max_events
        | FROM pu GROUP BY 1 ORDER BY bucket""".stripMargin,
    // type-pair co-occurrence over distinct (user, day) cells: exact
    // integer counts + one Jaccard division
    "event_cooccurrence" ->
      """WITH cells AS (
        |  SELECT DISTINCT user_id,
        |         epoch_ns(ts) // 1000000000 // 86400 AS day, event_type
        |  FROM events),
        |per AS (SELECT event_type, count(*) AS n_cells
        |        FROM cells GROUP BY event_type),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_both
        |  FROM cells a JOIN cells b
        |    ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        | SELECT type_a, type_b, pa.n_cells AS n_a, pb.n_cells AS n_b, n_both,
        |        floor((n_both * 1.0 / (pa.n_cells + pb.n_cells - n_both)) * 1e6 + 0.5) / 1e6
        |          AS jaccard
        | FROM pr JOIN per pa ON pa.event_type = type_a
        |         JOIN per pb ON pb.event_type = type_b
        | ORDER BY type_a, type_b""".stripMargin,
    // group-wise top-k on exact integer counts; user_id tie-break
    "event_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        | SELECT * FROM (
        |   SELECT event_type,
        |          CAST(row_number() OVER (PARTITION BY event_type
        |            ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk,
        |          user_id, n_events
        |   FROM c)
        | WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin,
    // —— §2.9 multimodal plumbing ——
    // the REAL-codec roundtrip: the oracle replays the synthesis
    // formula (dims from n_chars, pixel(x,y) = (31x+17y+doc_id) % 256)
    // WITHOUT decoding — Spark's numbers come back through actual
    // ImageIO PNG/BMP containers, so agreement proves lossless decode
    "mm_decode_real" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + n_chars % 32 AS w, 8 + (n_chars * 7) % 32 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT d.doc_id, d.w, d.h, xx.x, yy.y
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xx,
        |  LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) yy),
        |sums AS (
        |  SELECT doc_id, max(w) AS w, max(h) AS h,
        |         sum((x * 31 + y * 17 + doc_id) % 256) AS s
        |  FROM cells GROUP BY doc_id)
        | SELECT doc_id,
        |        CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |        CAST(s AS BIGINT) AS sum_pixels
        | FROM sums ORDER BY doc_id""".stripMargin,
    // the REAL resize: the oracle replays the synthesis formula AT THE
    // NEAREST-NEIGHBOR SAMPLED coordinates (srcX = x·w//16,
    // srcY = y·h//16) — Spark must decode the container and resample
    // the actual raster to agree
    "mm_resize_real" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + n_chars % 32 AS w, 8 + (n_chars * 7) % 32 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT d.doc_id, d.w, d.h, xx.x, yy.y
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, 15)) AS x) xx,
        |  LATERAL (SELECT unnest(generate_series(0, 15)) AS y) yy),
        |sums AS (
        |  SELECT doc_id, max(w) AS w, max(h) AS h,
        |         sum(((x * w // 16) * 31 + (y * h // 16) * 17 + doc_id)
        |             % 256) AS s
        |  FROM cells GROUP BY doc_id)
        | SELECT doc_id,
        |        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |        CAST(16 AS BIGINT) AS out_w, CAST(16 AS BIGINT) AS out_h,
        |        CAST(s AS BIGINT) AS sum_resized
        | FROM sums ORDER BY doc_id""".stripMargin,
    // the REAL-raster aHash: the oracle replays the synthesis formula
    // at the 8x8 NN-sampled coordinates and thresholds each cell with
    // the INTEGER comparison p*64 > sum (no division, no floats) —
    // Spark must decode, resample, and threshold the actual raster
    "mm_phash_real" ->
      """WITH d AS (
        |  SELECT doc_id, 8 + n_chars % 32 AS w, 8 + (n_chars * 7) % 32 AS h
        |  FROM documents),
        |cells AS (
        |  SELECT d.doc_id, yy.y * 8 + xx.x AS k,
        |         ((xx.x * d.w // 8) * 31 + (yy.y * d.h // 8) * 17 + d.doc_id)
        |           % 256 AS p
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, 7)) AS x) xx,
        |  LATERAL (SELECT unnest(generate_series(0, 7)) AS y) yy),
        |s AS (SELECT doc_id, sum(p) AS sum64 FROM cells GROUP BY doc_id),
        |bits AS (
        |  SELECT c.doc_id,
        |    CAST(sum(CASE WHEN c.k // 16 = 0 AND c.p * 64 > s.sum64
        |                  THEN 1 << (c.k % 16) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN c.k // 16 = 1 AND c.p * 64 > s.sum64
        |                  THEN 1 << (c.k % 16) ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN c.k // 16 = 2 AND c.p * 64 > s.sum64
        |                  THEN 1 << (c.k % 16) ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN c.k // 16 = 3 AND c.p * 64 > s.sum64
        |                  THEN 1 << (c.k % 16) ELSE 0 END) AS BIGINT) AS b3
        |  FROM cells c JOIN s USING (doc_id) GROUP BY c.doc_id),
        |g AS (
        |  SELECT b0, b1, b2, b3, count(*) AS n_dups
        |  FROM bits GROUP BY 1, 2, 3, 4)
        | SELECT bits.doc_id, bits.b0, bits.b1, bits.b2, bits.b3, g.n_dups
        | FROM bits JOIN g USING (b0, b1, b2, b3)
        | ORDER BY doc_id""".stripMargin,
    // the REAL audio roundtrip: the oracle replays the PCM synthesis
    // formula (n = 64 + n_chars % 256,
    // sample(i) = (31·doc_id + 131·i) % 65536 − 32768) WITHOUT
    // decoding — Spark's sums come back through actual RIFF/WAVE
    // containers, so agreement proves lossless 16-bit decode
    // banded hamming near-dup: 4x16-bit band joins + bit_count verify
    "mm_phash_neardup" -> PhashNearDupSql,
    // multimodal rolling-ingest admission — one oracle for the session
    // face and the persisted-index read path (identical definition)
    "mm_phash_incremental" -> PhashIncrementalSql,
    "index_mm_phash_incremental" -> PhashIncrementalSql,
    // per-source media admission summary: rejected = distinct new
    // members of <=3-hamming pairs (the dedup_incremental_stats shape)
    "mm_phash_incremental_stats" ->
      s"""WITH $PhashPairCtes,
         |nf AS (SELECT doc_id, (${md5BucketSql(4, 10L)} >= 8) AS is_new
         |       FROM documents),
         |rej AS (
         |  SELECT DISTINCT
         |         CASE WHEN fb.is_new THEN p.id_b ELSE p.id_a END AS doc_id
         |  FROM p
         |  JOIN nf fa ON fa.doc_id = p.id_a
         |  JOIN nf fb ON fb.doc_id = p.id_b
         |  WHERE p.hamming <= 3 AND (fa.is_new OR fb.is_new))
         | SELECT d.source, count(*) AS n_new,
         |        CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_rejected,
         |        floor((sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |              * 1.0 / count(*)) * 1e6 + 0.5) / 1e6 AS reject_ratio
         | FROM documents d
         | JOIN nf f ON f.doc_id = d.doc_id AND f.is_new
         | LEFT JOIN rej r ON r.doc_id = d.doc_id
         | GROUP BY d.source ORDER BY d.source""".stripMargin,
    "mm_decode_audio_real" ->
      """WITH d AS (
        |  SELECT doc_id, 64 + n_chars % 256 AS n FROM documents),
        |s AS (
        |  SELECT d.doc_id, d.n,
        |         ((d.doc_id * 31 + i.i * 131) % 65536) - 32768 AS v
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i),
        |g AS (
        |  SELECT doc_id, max(n) AS n, sum(v) AS sv, sum(abs(v)) AS sa
        |  FROM s GROUP BY doc_id)
        | SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |        CAST(16000 AS BIGINT) AS sample_rate,
        |        CAST(16 AS BIGINT) AS bits,
        |        CAST(sv AS BIGINT) AS sum_samples,
        |        CAST(sa AS BIGINT) AS sum_abs
        | FROM g ORDER BY doc_id""".stripMargin,
    // per-frame PCM energy over the real decoded WAV: 32-sample
    // windows (tail kept), exact int64 sum of squares
    "mm_audio_rms_real" ->
      """WITH d AS (
        |  SELECT doc_id, 64 + n_chars % 256 AS n FROM documents),
        |s AS (
        |  SELECT d.doc_id, i.i,
        |         ((d.doc_id * 31 + i.i * 131) % 65536) - 32768 AS v
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i),
        |f AS (
        |  SELECT doc_id, i // 32 AS frame, count(*) AS n,
        |         sum(v * v) AS energy
        |  FROM s GROUP BY doc_id, i // 32)
        | SELECT doc_id, CAST(frame AS BIGINT) AS frame,
        |        CAST(n AS BIGINT) AS n, CAST(energy AS BIGINT) AS energy
        | FROM f ORDER BY doc_id, frame""".stripMargin,
    // per-frame zero crossings: lag over the synthesized sample stream,
    // pairs with both endpoints in the frame (i % 32 != 0), sign = v < 0
    "mm_audio_zcr_real" ->
      """WITH d AS (
        |  SELECT doc_id, 64 + n_chars % 256 AS n FROM documents),
        |s AS (
        |  SELECT d.doc_id, i.i,
        |         ((d.doc_id * 31 + i.i * 131) % 65536) - 32768 AS v
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) i),
        |p AS (
        |  SELECT doc_id, i, v,
        |         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s),
        |f AS (
        |  SELECT doc_id, i // 32 AS frame,
        |         sum(CASE WHEN i % 32 <> 0 THEN 1 ELSE 0 END) AS n_pairs,
        |         sum(CASE WHEN i % 32 <> 0 AND ((v < 0) <> (pv < 0))
        |             THEN 1 ELSE 0 END) AS crossings
        |  FROM p GROUP BY doc_id, i // 32)
        | SELECT doc_id, CAST(frame AS BIGINT) AS frame,
        |        CAST(n_pairs AS BIGINT) AS n_pairs,
        |        CAST(crossings AS BIGINT) AS crossings
        | FROM f ORDER BY doc_id, frame""".stripMargin,
    "mm_resize_stub" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(64 + (octet_length(encode(text)) * 31) % 960 AS BIGINT) AS width,
        |    CAST(64 + (octet_length(encode(text)) * 17) % 960 AS BIGINT) AS height
        |  FROM documents)
        | SELECT doc_id, width, height,
        |   CAST(CASE WHEN width >= height THEN 224
        |        ELSE (width * 224) // height END AS BIGINT) AS out_w,
        |   CAST(CASE WHEN width >= height THEN (height * 224) // width
        |        ELSE 224 END AS BIGINT) AS out_h
        | FROM dims ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) // 1000 + 1 AS BIGINT) AS n_frames
        |  FROM documents)
        | SELECT doc_id, n_frames, CAST(i AS BIGINT) AS frame_idx,
        |        CAST(i * 1000 AS BIGINT) AS frame_offset
        | FROM f, LATERAL (SELECT unnest(generate_series(0, n_frames - 1, 10)) AS i) t
        | ORDER BY doc_id, frame_idx""".stripMargin,
    // the REAL frame sampler: the oracle replays the multi-frame
    // synthesis at the SAMPLED (frame, x, y) coordinates only — Spark
    // must write a genuine animated GIF, read its frame count back out
    // of the container, and random-access-decode the sampled frames to
    // agree (GIF LZW + an explicit 256-gray palette are lossless)
    "mm_frame_sample_real" ->
      """WITH d AS (
        |  SELECT doc_id, 2 + n_chars % 7 AS nf,
        |         8 + n_chars % 16 AS w, 8 + (n_chars * 3) % 16 AS h
        |  FROM documents),
        |fr AS (
        |  SELECT d.doc_id, d.nf, d.w, d.h, ff.f
        |  FROM d,
        |  LATERAL (SELECT unnest(generate_series(0, d.nf - 1, 3)) AS f) ff),
        |cells AS (
        |  SELECT fr.doc_id, fr.nf, fr.f, fr.w, fr.h, xx.x, yy.y
        |  FROM fr,
        |  LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS x) xx,
        |  LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS y) yy)
        | SELECT doc_id, CAST(max(nf) AS BIGINT) AS n_frames,
        |        CAST(f AS BIGINT) AS frame_idx,
        |        CAST(max(w) AS BIGINT) AS width,
        |        CAST(max(h) AS BIGINT) AS height,
        |        CAST(sum((x * 31 + y * 17 + f * 19 + doc_id) % 256)
        |          AS BIGINT) AS sum_pixels
        | FROM cells GROUP BY doc_id, f
        | ORDER BY doc_id, frame_idx""".stripMargin,
    // per-format cap sampling over the decoded corpus: stub decode
    // format + the shared md5 bucket generator
    "mm_stratified_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE octet_length(encode(text)) % 3
         |         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
         |         ELSE 'webp' END AS format,
         |    ${md5BucketSql(8, 1000L)} AS b
         |  FROM documents),
         |n AS (SELECT format, count(*) AS n FROM d GROUP BY format)
         | SELECT d.format, count(*) AS n_assets,
         |        CAST(sum(CASE WHEN d.b * n.n < 1000 * 100 THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_kept
         | FROM d JOIN n ON n.format = d.format
         | GROUP BY d.format ORDER BY d.format""".stripMargin,
    // audio framing: the same integer window arithmetic per asset
    "mm_audio_window" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_samples
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n_samples,
        |         1 + (greatest(n_samples - 400, 0) + 160 - 1) // 160
        |           AS n_windows
        |  FROM a)
        | SELECT doc_id, n_samples, CAST(n_windows AS BIGINT) AS n_windows,
        |        CAST(i AS BIGINT) AS win_idx,
        |        CAST(i * 160 AS BIGINT) AS start_off,
        |        CAST(i * 160 + 400 AS BIGINT) AS end_off,
        |        i * 160 + 400 > n_samples AS padded
        | FROM w, LATERAL (SELECT unnest(generate_series(0, n_windows - 1)) AS i) t
        | ORDER BY doc_id, win_idx""".stripMargin,
    "mm_decode_stub" ->
      """SELECT doc_id,
        |   CASE octet_length(encode(text)) % 3
        |        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |   CAST(64 + (octet_length(encode(text)) * 31) % 960 AS BIGINT) AS width,
        |   CAST(64 + (octet_length(encode(text)) * 17) % 960 AS BIGINT) AS height
        | FROM documents ORDER BY doc_id""".stripMargin,
    // stub pHash blocks: the same threshold-bit arithmetic on the decoded
    // byte length, grouped exactly
    "mm_phash_dedup" -> {
      def block(b: Int) = (0 until 16).map { r =>
        s"(CASE WHEN (n * ${16 * b + r + 1}) % 997 >= 498 THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH m AS (
         |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM documents),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(${block(0)} AS BIGINT) AS b0,
         |    CAST(${block(1)} AS BIGINT) AS b1,
         |    CAST(${block(2)} AS BIGINT) AS b2,
         |    CAST(${block(3)} AS BIGINT) AS b3
         |  FROM m)
         | SELECT b0, b1, b2, b3, count(*) AS n_docs,
         |        min(doc_id) AS keeper
         | FROM fp GROUP BY b0, b1, b2, b3
         | HAVING count(*) >= 2
         | ORDER BY b0, b1, b2, b3""".stripMargin
    },
    // the closed multimodal dup spectrum (r17): pair CTEs (hamming <= 3
    // INCLUDING the exact hamming-0 pairs) -> recursive reachability ->
    // min-id components; clusters = per-component size rollup
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $PhashClusterCtes
         | SELECT cluster_id, count(*) AS n_assets FROM cl
         | GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // the apply face: every asset except non-keeper cluster members,
    // decoded stub scalars joined from the mm_decode_stub formulas
    "mm_dedup_apply" ->
      s"""WITH RECURSIVE $PhashClusterCtes,
         |rm AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
         | SELECT doc_id,
         |   CASE octet_length(encode(text)) % 3
         |        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp'
         |   END AS format,
         |   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |   CAST(64 + (octet_length(encode(text)) * 31) % 960 AS BIGINT)
         |     AS width,
         |   CAST(64 + (octet_length(encode(text)) * 17) % 960 AS BIGINT)
         |     AS height
         | FROM documents
         | WHERE doc_id NOT IN (SELECT doc_id FROM rm)
         | ORDER BY doc_id""".stripMargin,
    // asset dup-family size histogram: the cluster CTEs + the integer
    // bin() log2 buckets (the dedup_cluster_sizes tail verbatim)
    "mm_phash_cluster_sizes" ->
      s"""WITH RECURSIVE $PhashClusterCtes,
         |cs AS (SELECT cluster_id, count(*) AS n_assets FROM cl
         |       GROUP BY cluster_id)
         | SELECT CAST(length(bin(n_assets)) - 1 AS BIGINT) AS bucket,
         |        count(*) AS n_clusters,
         |        CAST(sum(n_assets) AS BIGINT) AS n_assets,
         |        min(n_assets) AS min_size, max(n_assets) AS max_size
         | FROM cs GROUP BY 1 ORDER BY bucket""".stripMargin
  )
}
