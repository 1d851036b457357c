"""DuckDB-dialect oracle SQL for every SQL-expressible query in
queries.py. Keys match SPARK_QUERIES. The one missing key, approx_distinct,
is a rows-only check (its HLL++ sketch estimate is engine-specific); the
minhash/simhash, LSH and ANN queries have oracles that replay the same
hashing and scoring in SQL.

The transcripts/dim CTE prelude is prepended by build_oracles(); every
aggregate/computed column is aliased identically to the Spark side.
"""

from __future__ import annotations

from .operators.route import SINK_PREDICATES_SQL, SINKS
from .transcripts import oracle_prelude

# shared SQL fragments -------------------------------------------------

_PARSED = """
parsed AS (
  SELECT conv_id, turn_idx, role, tool, ts, text,
    NULLIF(regexp_extract(text, 'level=([A-Z]+)', 1), '') AS level,
    NULLIF(regexp_extract(text, 'sig=([A-Za-z]+)', 1), '') AS error_signature,
    NULLIF(regexp_extract(text, '<tool:([a-z]+) ', 1), '') AS tool_call,
    CAST(NULLIF(regexp_extract(text, 'bytes: (\\d+)', 1), '') AS BIGINT) AS bytes,
    NULLIF(regexp_extract(text, 'op: ([\\w/.:]+)', 1), '') AS op,
    CAST(NULLIF(regexp_extract(text, 'duration: (\\d+)', 1), '') AS BIGINT) AS duration
  FROM transcripts
)"""

# Routing arms are GENERATED from the router's own predicate spec
# (operators/route.py SINK_PREDICATES_SQL — ANSI SQL valid in both
# engines), so these oracles track sink additions/changes automatically.
_ROUTED = "\nrouted AS (\n" + "\n  UNION ALL\n".join(
    f"  SELECT '{s}' AS sink, * FROM parsed WHERE {SINK_PREDICATES_SQL[s]}"
    for s in SINKS
) + "\n)"

_DOC_TOKS = """
toks AS (
  SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> x <> '') AS tokens
  FROM documents
)"""

_FP = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"

_GRAMS = """
grams AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(tokens) - 2, 0)),
      i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS g
  FROM toks
)"""


ORACLES: dict[str, str] = {}

ORACLES["pipeline_parse"] = f"WITH_PRELUDE, {_PARSED} SELECT * FROM parsed"

ORACLES["pipeline_route_counts"] = f"""WITH_PRELUDE, {_PARSED}, {_ROUTED}
SELECT sink, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM routed GROUP BY sink
"""

ORACLES["pipeline_agg_terms"] = f"""WITH_PRELUDE, {_PARSED}, {_ROUTED},
terms AS (
  SELECT sink, conv_id,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM routed WHERE sink = 'errors'
)
SELECT sink, conv_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
FROM terms WHERE term <> '' GROUP BY sink, conv_id, term
"""

ORACLES["pipeline_enrich"] = """WITH_PRELUDE,
joined AS (
  SELECT t.conv_id, r.role_kind, r.score_weight, tl.tool_family
  FROM transcripts t
  LEFT JOIN dim_roles r ON t.role = r.role
  LEFT JOIN dim_tools tl ON t.tool = tl.tool
)
SELECT role_kind, tool_family, CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       ROUND(SUM(score_weight), 1) AS weight_sum
FROM joined GROUP BY role_kind, tool_family
"""

ORACLES["pivot_role_counts"] = """WITH_PRELUDE,
joined AS (
  SELECT r.role_kind, tl.tool_family
  FROM transcripts t
  LEFT JOIN dim_roles r ON t.role = r.role
  LEFT JOIN dim_tools tl ON t.tool = tl.tool
)
SELECT tool_family,
  CAST(SUM(CASE WHEN role_kind = 'control' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_control,
  CAST(SUM(CASE WHEN role_kind = 'human' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_human,
  CAST(SUM(CASE WHEN role_kind = 'agent' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_agent
FROM joined GROUP BY tool_family
"""

# Unpivot: melt the pivot cross-tab back to long form — zero cells kept
# (they are columns in the wide form), hence pivot-then-union, not a
# plain group-by.
ORACLES["unpivot_roles"] = """WITH_PRELUDE,
joined AS (
  SELECT r.role_kind, tl.tool_family
  FROM transcripts t
  LEFT JOIN dim_roles r ON t.role = r.role
  LEFT JOIN dim_tools tl ON t.tool = tl.tool
),
wide AS (
  SELECT tool_family,
    CAST(SUM(CASE WHEN role_kind = 'control' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_control,
    CAST(SUM(CASE WHEN role_kind = 'human' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_human,
    CAST(SUM(CASE WHEN role_kind = 'agent' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_agent
  FROM joined GROUP BY tool_family
)
SELECT tool_family, 'control' AS role_kind, n_control AS n FROM wide
UNION ALL
SELECT tool_family, 'human', n_human FROM wide
UNION ALL
SELECT tool_family, 'agent', n_agent FROM wide
"""

ORACLES["turn_ordering"] = """WITH_PRELUDE,
rn AS (
  SELECT conv_id, turn_idx,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS _rn
  FROM transcripts
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       MAX(turn_idx) AS max_turn,
       CAST(SUM(CASE WHEN _rn <> turn_idx THEN 1 ELSE 0 END) AS BIGINT)
         AS order_violations
FROM rn GROUP BY conv_id
"""

ORACLES["dynamic_fields"] = """WITH_PRELUDE,
kv AS (
  SELECT conv_id,
    len(list_filter(
      list_transform(regexp_extract_all(text, '(\\w+): ([\\w/.:]+)', 1),
                     k -> k),
      k -> k NOT IN ('bytes', 'op', 'duration'))) AS n_dyn
  FROM transcripts
)
SELECT conv_id, CAST(SUM(n_dyn) AS BIGINT) AS dynamic_kv_total,
       CAST(SUM(CASE WHEN n_dyn > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS rows_with_dynamic
FROM kv GROUP BY conv_id
"""

ORACLES["lineage_counts"] = f"""WITH_PRELUDE, {_PARSED}, {_ROUTED}
SELECT strftime(ts, '%Y-%m-%d') AS day, sink,
       CAST(COUNT(*) AS BIGINT) AS doc_count
FROM routed GROUP BY day, sink
"""

# A3 weights: text 10, level 8, tool/op 6, role/error_signature default 2
ORACLES["search_substring_topk"] = f"""WITH_PRELUDE, {_PARSED},
scored AS (
  SELECT conv_id, turn_idx, CAST(
      (CASE WHEN lower(text) LIKE '%error%' THEN 10 ELSE 0 END)
    + (CASE WHEN lower(level) LIKE '%error%' THEN 8 ELSE 0 END)
    + (CASE WHEN lower(role) LIKE '%error%' THEN 2 ELSE 0 END)
    + (CASE WHEN lower(tool) LIKE '%error%' THEN 6 ELSE 0 END)
    + (CASE WHEN lower(op) LIKE '%error%' THEN 6 ELSE 0 END)
    + (CASE WHEN lower(error_signature) LIKE '%error%' THEN 2 ELSE 0 END)
    AS DOUBLE) AS score
  FROM parsed
)
SELECT conv_id, turn_idx, score FROM scored WHERE score > 0
ORDER BY score DESC, conv_id, turn_idx LIMIT 100
"""

# demo fixture path is repo-local and committed; read_json(ignore_errors)
# yields an all-NULL row for the corrupt line, which scores 0 and drops out
# A3 score formula over the demo fixture, struct children included with
# their leaf-name weights (class/service +6) and tenant_id parsed from its
# raw string form (P2 parity) — shared by the demo_* oracles.
_DEMO_READ = """
  SELECT * FROM read_json('/root/repo/tests/fixtures/hdfs_logs.jsonl',
    format='newline_delimited', ignore_errors=true,
    columns={severity_text:'VARCHAR', body:'VARCHAR', tenant_id:'VARCHAR',
             cluster:'VARCHAR', region_note:'VARCHAR',
             attributes:'STRUCT("class" VARCHAR)',
             resource:'STRUCT(service VARCHAR)',
             client_ip:'VARCHAR', "timestamp":'VARCHAR'})
"""


def _demo_score(q: str) -> str:
    return f"""CAST(
      (CASE WHEN contains(lower(severity_text), '{q}') THEN 8 ELSE 0 END)
    + (CASE WHEN contains(lower(body), '{q}') THEN 10 ELSE 0 END)
    + (CASE WHEN contains(lower(attributes."class"), '{q}') THEN 6 ELSE 0 END)
    + (CASE WHEN contains(lower(resource.service), '{q}') THEN 6 ELSE 0 END)
    + 3 * ((CASE WHEN contains(lower(cluster), '{q}') THEN 1 ELSE 0 END)
         + (CASE WHEN contains(lower(region_note), '{q}') THEN 1 ELSE 0 END))
    AS DOUBLE)"""


ORACLES["demo_e2e"] = f"""
WITH d AS ({_DEMO_READ}),
scored AS (
  SELECT TRY_CAST(tenant_id AS BIGINT) AS tenant_id, severity_text,
         {_demo_score('info')} AS score
  FROM d
)
SELECT tenant_id, severity_text, score FROM scored WHERE score > 0
ORDER BY score DESC, tenant_id LIMIT 3
"""

ORACLES["demo_search_struct"] = f"""
WITH d AS ({_DEMO_READ}),
scored AS (
  SELECT TRY_CAST(tenant_id AS BIGINT) AS tenant_id, severity_text,
         {_demo_score('datanode')} AS score
  FROM d
)
SELECT tenant_id, severity_text, score FROM scored WHERE score > 0
ORDER BY score DESC, tenant_id LIMIT 10
"""

# P2/P4/P5 ingest parity over the fixture: stringified numbers, epoch
# (auto-scaled s/ms) + date + rfc3339 timestamps, canonicalized IPs.
# The ip CASE mirrors python ipaddress canonicalization on this fixture's
# value domain (valid dotted-quad kept as-is, compressed IPv6 lowercased,
# invalid -> NULL) — DuckDB has no inet canonicalizer built in.
ORACLES["demo_ingest_types"] = f"""
WITH d AS ({_DEMO_READ}
  -- read_json's ignore_errors surfaces the corrupt/blank line as one
  -- all-NULL row; the engine skips blanks and quarantines corrupt lines
  WHERE severity_text IS NOT NULL OR body IS NOT NULL OR tenant_id IS NOT NULL
)
SELECT
  TRY_CAST(tenant_id AS BIGINT) AS tenant_id,
  COALESCE(
    TRY_CAST("timestamp" AS TIMESTAMP),
    CASE WHEN regexp_matches("timestamp", '^-?\\d+$') THEN
      CASE
        WHEN abs(CAST("timestamp" AS BIGINT)) BETWEEN 72057595 AND 8589934591
          THEN CAST(to_timestamp(CAST("timestamp" AS BIGINT)) AS TIMESTAMP)
        WHEN abs(CAST("timestamp" AS BIGINT)) BETWEEN 72057595000 AND 8589934591000
          THEN epoch_ms(CAST("timestamp" AS BIGINT))
        WHEN abs(CAST("timestamp" AS BIGINT)) BETWEEN 72057595000000 AND 8589934591000000
          THEN make_timestamp(CAST("timestamp" AS BIGINT))
        WHEN abs(CAST("timestamp" AS BIGINT)) > 8589934591000000
          THEN make_timestamp(CAST("timestamp" AS BIGINT) // 1000)
      END
    END) AS ts,
  CASE
    WHEN regexp_matches(client_ip,
      '^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){{3}}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$')
      THEN client_ip
    WHEN contains(client_ip, ':') AND regexp_matches(client_ip, '^[0-9A-Fa-f:]+$')
      THEN lower(client_ip)
    ELSE NULL
  END AS client_ip,
  severity_text
FROM d
"""

ORACLES["search_map_scoring"] = """WITH_PRELUDE,
kv AS (
  SELECT conv_id, turn_idx, text,
         regexp_extract_all(text, '(\\w+): ([\\w/.:]+)', 1) AS ks,
         regexp_extract_all(text, '(\\w+): ([\\w/.:]+)', 2) AS vs
  FROM transcripts
),
scored AS (
  SELECT conv_id, turn_idx, CAST(
      (CASE WHEN contains(lower(text), '9000') THEN 10 ELSE 0 END)
    + 3 * len(list_filter(range(1, len(ks) + 1),
          i -> ks[i] NOT IN ('bytes', 'op', 'duration')
               AND contains(lower(vs[i]), '9000')))
    AS DOUBLE) AS score
  FROM kv
)
SELECT conv_id, turn_idx, score FROM scored WHERE score > 0
ORDER BY score DESC, conv_id, turn_idx LIMIT 200
"""

ORACLES["terms_raw"] = f"""WITH_PRELUDE, {_PARSED}, {_ROUTED}
SELECT sink, trim(level) AS term, CAST(COUNT(*) AS BIGINT) AS cnt
FROM routed WHERE trim(level) IS NOT NULL AND trim(level) <> ''
GROUP BY sink, term
"""

ORACLES["terms_whitespace"] = f"""WITH_PRELUDE, {_PARSED}, {_ROUTED},
wterms AS (
  SELECT sink, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS term
  FROM routed WHERE sink = 'errors'
)
SELECT sink, term, CAST(COUNT(*) AS BIGINT) AS cnt
FROM wterms GROUP BY sink, term
"""

ORACLES["media_metadata"] = """
SELECT 'image' AS kind, CAST(COUNT(*) AS BIGINT) AS n,
       AVG(n_chars % 640) AS avg_w,
       CAST(MAX(n_chars * 10) AS BIGINT) AS max_dur
FROM documents
"""

ORACLES["media_features"] = """
SELECT 'image' AS kind, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(MAX(n_chars % 640) AS INT) AS max_w
FROM documents
"""

ORACLES["search_field_query"] = f"""WITH_PRELUDE, {_PARSED}
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM parsed
WHERE op = 'HDFS_WRITE' AND duration >= 10 AND duration < 50
GROUP BY conv_id
"""

ORACLES["search_bool_not"] = f"""WITH_PRELUDE, {_PARSED}
SELECT level, error_signature, CAST(COUNT(*) AS BIGINT) AS n FROM parsed
WHERE (level = 'ERROR' AND NOT error_signature = 'OutOfMemoryError')
   OR level = 'WARN'
GROUP BY level, error_signature
"""

_HITS = (
    "len(list_filter(tokens, x -> list_contains({markers}, x)))"
)
_LANGS = {
    "de": "['der', 'und', 'die']",
    "en": "['the', 'and', 'of']",
    "es": "['el', 'la', 'los']",
    "fr": "['le', 'les', 'des']",
    "zh": "['de5', 'shi4', 'zhong1']",
}
_HIT_COLS = ",\n    ".join(
    f"{_HITS.format(markers=m)} AS h_{lang}" for lang, m in _LANGS.items()
)

ORACLES["lang_id"] = f"""WITH {_DOC_TOKS},
hits AS (
  SELECT lang, {_HIT_COLS}
  FROM toks
),
pred AS (
  SELECT lang,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
         WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
         ELSE 'zh' END AS predicted
  FROM hits
)
SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY lang, predicted
"""

ORACLES["quality_buckets"] = f"""WITH {_DOC_TOKS},
feat AS (
  SELECT
    len(tokens) AS n_tokens,
    length(text) AS n_chars_m,
    round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
          / greatest(length(text), 1), 4) AS punct_ratio,
    round(len(list_filter(tokens, x -> list_contains(
        ['the','a','an','and','or','of','to','in','is','it'], x)))
          / greatest(len(tokens), 1), 4) AS stopword_ratio,
    round(list_sum(list_transform(tokens, x -> length(x)))
          / greatest(len(tokens), 1), 4) AS avg_token_len
  FROM toks
),
bucketed AS (
  SELECT *,
    CASE WHEN n_tokens < 5 OR punct_ratio > 0.3 THEN 'low'
         WHEN stopword_ratio > 0.05 THEN 'high'
         ELSE 'mid' END AS quality_bucket
  FROM feat
)
SELECT quality_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(avg(punct_ratio), 4) AS avg_punct,
       round(avg(stopword_ratio), 4) AS avg_stopword,
       round(avg(avg_token_len), 4) AS avg_tok_len
FROM bucketed GROUP BY quality_bucket
"""

ORACLES["token_stats"] = f"""WITH {_DOC_TOKS},
exploded AS (SELECT source, unnest(tokens) AS term FROM toks)
SELECT e.source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
       CAST(MAX(d.n_docs) AS BIGINT) AS n_docs
FROM exploded e
JOIN (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source) d
  ON e.source = d.source
GROUP BY e.source
"""

# RE2-safe GPT-2-ish pre-tokenizer (no lookahead); leftmost-first in both
# Java regex (Spark) and RE2 (DuckDB) so piece counts agree. The leading
# apostrophe is doubled: it sits inside a SQL single-quoted literal.
_BPE_ISH = r"''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"

ORACLES["token_budget"] = f"""
WITH counted AS (
  SELECT source,
         len(regexp_extract_all(text, '\\S+')) AS ws,
         len(regexp_extract_all(text, '{_BPE_ISH}')) AS bpe
  FROM documents
)
SELECT source, CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       round(SUM(bpe) / SUM(ws), 4) AS bpe_per_ws
FROM counted GROUP BY source
"""

ORACLES["fingerprints"] = f"""
SELECT source, CAST(COUNT(DISTINCT {_FP}) AS BIGINT) AS n_fingerprints,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
"""

ORACLES["dedup_exact"] = f"""WITH_PRELUDE
SELECT {_FP} AS fp, MIN(conv_id) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM transcripts GROUP BY fp HAVING COUNT(*) >= 2
"""

ORACLES["jaccard_adjacent"] = f"""WITH {_DOC_TOKS}, {_GRAMS}
SELECT g1.doc_id AS a, g2.doc_id AS b,
       round(len(list_intersect(g1.g, g2.g))
             / greatest(len(list_distinct(g1.g || g2.g)), 1), 4) AS jaccard
FROM grams g1 JOIN grams g2 ON g2.doc_id = g1.doc_id + 1
"""

# MinHash + banded LSH (md5_60 variant): every stage of
# operators/dedup.py:minhash_lsh_dedup mirrored in SQL — exact-dup
# collapse to min-id representatives, 60-bit per-permutation shingle hash
# from md5's hex prefix, 8 bands x 4 rows bucketed on
# md5(comma-joined minhashes), candidate pairs from the bucket
# equi-join, exact-Jaccard verify at threshold 0.8.
ORACLES["minhash_lsh_dedup"] = f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY {_FP}
),
toks AS (
  SELECT d.doc_id,
         list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents d JOIN reps USING (doc_id)
),
{_GRAMS.lstrip()},
sh AS (
  SELECT doc_id, unnest(g) AS shingle FROM grams
),
mh AS (
  SELECT doc_id, seeds.p,
         MIN(('0x' || substr(md5(seeds.p::VARCHAR || ':' || shingle), 1, 15))::BIGINT) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range(32)) AS p) seeds
  GROUP BY doc_id, seeds.p
),
buckets AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(mh::VARCHAR, ',' ORDER BY p)) AS bucket
  FROM mh GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM buckets l
  JOIN buckets r ON l.band = r.band AND l.bucket = r.bucket
                AND l.doc_id < r.doc_id
)
SELECT cand.a, cand.b,
       round(len(list_intersect(ga.g, gb.g))
             / greatest(len(list_distinct(ga.g || gb.g)), 1), 4) AS jaccard
FROM cand
JOIN grams ga ON ga.doc_id = cand.a
JOIN grams gb ON gb.doc_id = cand.b
WHERE round(len(list_intersect(ga.g, gb.g))
            / greatest(len(list_distinct(ga.g || gb.g)), 1), 4) >= 0.8
"""

# SimHash (md5_60 variant): every stage of operators/dedup.py:simhash_dedup
# mirrored in SQL — 60-bit token hash from md5's hex prefix, per-bit
# majority vote, 4x15-bit pigeonhole blocking, xor+bit_count hamming.
_SIMHASH_BITS = 60
_simhash_sums = ",\n         ".join(
    f"SUM((h >> {j}) & 1) AS s{j}" for j in range(_SIMHASH_BITS)
)
_simhash_val = "\n       + ".join(
    f"(CASE WHEN 2 * s{j} > n THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
    for j in range(_SIMHASH_BITS)
)
_SIMHASH_CAND = f"""toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks WHERE tok <> ''
),
votes AS (
  SELECT doc_id, COUNT(*) AS n,
         {_simhash_sums}
  FROM hashed GROUP BY doc_id
),
sim AS (
  SELECT doc_id, {_simhash_val} AS simhash FROM votes
),
blocks AS (
  SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS block FROM sim
),
bv AS (
  SELECT doc_id, simhash, block,
         (simhash >> (block * 15)) & 32767 AS block_val
  FROM blocks
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                  l.simhash AS sa, r.simhash AS sb
  FROM bv l JOIN bv r ON l.block = r.block AND l.block_val = r.block_val
                     AND l.doc_id < r.doc_id
)"""

ORACLES["simhash_pairs"] = f"""
WITH {_SIMHASH_CAND}
SELECT CAST(bit_count(xor(sa, sb)) AS INT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM cand WHERE bit_count(xor(sa, sb)) <= 16 GROUP BY hamming
"""

# Cluster collapse of the simhash near-dup pair graph: transitive closure
# by recursive CTE (golden semantics for operators/dedup.py:
# connected_components — min reachable id labels the component).
ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE {_SIMHASH_CAND},
pairs AS (
  SELECT a, b FROM cand WHERE bit_count(xor(sa, sb)) <= 16
),
und AS (
  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
),
reach(x, y) AS (
  SELECT x, y FROM und
  UNION
  SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x
),
lbl AS (
  SELECT x AS id, LEAST(x, MIN(y)) AS label FROM reach GROUP BY x
)
SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       MAX(id) AS max_member
FROM lbl GROUP BY label
"""

ORACLES["knn_bruteforce"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS cos_sim
  FROM q, c WHERE query_id <> neighbor_id
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
"""

ORACLES["embedding_neardup"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
"""

ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       AS DOUBLE) AS sum_disc_price,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["join_topk"] = """
SELECT o_orderkey, n_name, CAST(o_totalprice AS DECIMAL(18,2)) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY total DESC, o_orderkey LIMIT 20
"""

ORACLES["window_top_order"] = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS best_price,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, best_price FROM r WHERE rn = 1
"""

ORACLES["set_ops"] = """
WITH o_open AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
o_done AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT o_custkey, 'both' AS kind
FROM (SELECT o_custkey FROM o_open INTERSECT SELECT o_custkey FROM o_done)
UNION ALL
SELECT o_custkey, 'only_open' AS kind
FROM (SELECT o_custkey FROM o_open EXCEPT SELECT o_custkey FROM o_done)
"""

ORACLES["sessionize"] = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
  FROM events
),
g AS (
  SELECT user_id, sec,
         sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           AS gap
  FROM e
),
m AS (
  SELECT user_id,
         CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_session
  FROM g
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM m GROUP BY user_id
"""

ORACLES["bm25_topk"] = """
WITH toks AS (
  SELECT doc_id AS d,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
),
doclen AS (SELECT d, COUNT(*) AS dl FROM toks GROUP BY d),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen),
tf AS (
  SELECT d, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('hash', 'filter', 'slow') GROUP BY d, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.d,
         round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS w
  FROM tf JOIN dfreq USING (term) JOIN doclen USING (d) CROSS JOIN stats
)
SELECT d AS doc_id, round(SUM(w), 4) AS bm25
FROM scored GROUP BY d ORDER BY bm25 DESC, doc_id LIMIT 20
"""

def _lsh_planes_values(dim: int = 64, n_planes: int = 16) -> str:
    """The Spark side's deterministic splitmix hyperplanes (±1 matrix,
    operators/similarity._hyperplanes) rendered as a SQL VALUES list —
    16 x 64 literals, so the oracle replays the exact same projection."""
    from .operators.similarity import _hyperplanes

    m = _hyperplanes(dim, n_planes)
    rows = []
    for p in range(n_planes):
        lst = ",".join("1.0" if m[p, j] > 0 else "-1.0" for j in range(dim))
        rows.append(f"({p}, [{lst}]::DOUBLE[])")
    return ", ".join(rows)


# Full LSH-ANN replay: literal hyperplanes -> sign-bit signature ->
# 4x4-bit bands -> bucket equi-join candidates -> exact cosine re-rank
# (round-6 like knn_bruteforce, which is hash-green on the same kernel).
ORACLES["lsh_ann_topk"] = f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes(p, w) AS (VALUES {_lsh_planes_values()}),
sigs AS (
  SELECT vec_id,
         SUM(CASE WHEN list_inner_product(v, w) >= 0
                  THEN (1::BIGINT << p) ELSE 0 END) AS sig
  FROM vecs CROSS JOIN planes GROUP BY vec_id
),
bands AS (SELECT unnest([0, 1, 2, 3]) AS band),
bk AS (
  SELECT vec_id, band, (sig >> (band * 4)) & 15 AS bucket
  FROM sigs CROSS JOIN bands
),
qb AS (SELECT vec_id AS query_id, band, bucket FROM bk WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qb q JOIN bk c USING (band, bucket)
  WHERE c.vec_id <> q.query_id
),
s AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
  FROM cand
  JOIN vecs qv ON qv.vec_id = cand.query_id
  JOIN vecs cv ON cv.vec_id = cand.neighbor_id
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
"""

# IVF-Flat ANN replay: seed centroids are a pure SQL rule (smallest 8
# vec_ids >= 10), so the oracle reconstructs them from the table itself —
# no literals needed (unlike the data-independent LSH hyperplanes above).
# assign = rank-1 cell per vector, probe = rank<=2 cells per query, both
# on round(cosine, 6) DESC with lowest-cell tie-break, matching the Spark
# side's stable argsort over rounded sims (similarity.ivf_cells_udf).
ORACLES["ivf_ann_topk"] = """
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT vec_id, v FROM vecs WHERE vec_id >= 10 ORDER BY vec_id LIMIT 8)
),
asg AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell)
           AS rn
  FROM vecs CROSS JOIN cents
),
ccell AS (SELECT vec_id AS neighbor_id, cell FROM asg WHERE rn = 1),
qcell AS (SELECT vec_id AS query_id, cell FROM asg
          WHERE rn <= 2 AND vec_id < 10),
cand AS (
  SELECT q.query_id, c.neighbor_id
  FROM qcell q JOIN ccell c USING (cell)
  WHERE c.neighbor_id <> q.query_id
),
s AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
  FROM cand
  JOIN vecs qv ON qv.vec_id = cand.query_id
  JOIN vecs cv ON cv.vec_id = cand.neighbor_id
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
"""

# Positional phrase match: same lambda-over-start-offsets definition as
# the Spark HOF (overlapping occurrences count).
ORACLES["phrase_search"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id, CAST(n_occ AS INT) AS n_occ FROM (
  SELECT doc_id,
    CASE WHEN len(t) >= 2 THEN
      len(list_filter(range(1, len(t) - 2 + 2),
                      i -> list_slice(t, i, i + 1) = ['key', 'scan']))
    ELSE 0 END AS n_occ
  FROM toks)
WHERE n_occ > 0
ORDER BY n_occ DESC, doc_id LIMIT 20
"""

# Decontamination: raw-shingle semi-join (Spark joins xxhash64 of the same
# shingles — equivalent up to a 2^-64 collision).
ORACLES["decontaminate"] = """
WITH etoks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 11 = 0
),
eg AS (
  SELECT DISTINCT unnest(list_transform(
           generate_series(1, greatest(len(t) - 4, 0)),
           i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS shingle
  FROM etoks
),
ctoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS t
  FROM documents WHERE doc_id % 11 <> 0
),
cg AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 4, 0)),
           i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS shingle
  FROM ctoks
),
cont AS (
  SELECT DISTINCT doc_id FROM cg
  WHERE shingle IN (SELECT shingle FROM eg)
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
       round(COUNT(c.doc_id) * 1.0 / COUNT(*), 4) AS contamination_rate
FROM (SELECT doc_id, source FROM documents WHERE doc_id % 11 <> 0) d
LEFT JOIN cont c USING (doc_id)
GROUP BY d.source
"""

# Lloyd k-means, 2 iterations replayed as CTEs: deterministic lowest-id
# init, argmin ties to the lowest centroid id (row_number ORDER BY
# (distance, cid) == numpy argmin's first-minimal-index).
ORACLES["kmeans_clusters"] = """
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
init AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, v AS c
  FROM pts ORDER BY vec_id LIMIT 8
),
a1 AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN init
),
s1 AS (SELECT vec_id, v, cid FROM a1 WHERE rk = 1),
c1 AS (
  SELECT cid, list(av ORDER BY pos) AS c FROM (
    SELECT cid, pos, avg(val) AS av FROM (
      SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM s1)
    GROUP BY cid, pos)
  GROUP BY cid
),
a2 AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN c1
),
s2 AS (SELECT vec_id, v, cid FROM a2 WHERE rk = 1),
c2 AS (
  SELECT cid, list(av ORDER BY pos) AS c FROM (
    SELECT cid, pos, avg(val) AS av FROM (
      SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM s2)
    GROUP BY cid, pos)
  GROUP BY cid
),
a3 AS (
  SELECT vec_id, cid, list_distance(v, c) AS d,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN c2
)
SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       round(avg(d), 4) AS avg_dist
FROM a3 WHERE rk = 1 GROUP BY cid
"""

# Vocabulary build + OOV audit: top-16 by (count desc, term asc) — the
# boundary falls inside a frequency tie, so the tie-break is load-bearing.
ORACLES["vocab_oov"] = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
term AS (SELECT unnest(t) AS term FROM toks),
tc AS (SELECT term, COUNT(*) AS c FROM term GROUP BY term),
vocab AS (SELECT term FROM tc ORDER BY c DESC, term LIMIT 16),
vlist AS (SELECT list(term) AS vl FROM vocab),
per_doc AS (
  SELECT doc_id, source, len(t) AS n,
         len(list_filter(t, x -> NOT list_contains(vl, x))) AS n_oov
  FROM toks CROSS JOIN vlist WHERE len(t) > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(n_oov) AS BIGINT) AS n_oov_tokens,
       round(avg(n_oov * 1.0 / n), 4) AS avg_oov_rate
FROM per_doc GROUP BY source
"""

# End-to-end corpus build: every stage's oracle chained into one query
# (scrub 'g'-flagged to match Spark's replace-all default).
ORACLES["corpus_build"] = r"""
WITH RECURSIVE scrub AS (
  SELECT doc_id, regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS text
  FROM documents
),
keepers AS (
  SELECT MIN(doc_id) AS doc_id
  FROM scrub GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
),
kept AS (SELECT s.doc_id, s.text FROM scrub s JOIN keepers USING (doc_id)),
sp AS (
  SELECT doc_id, text,
    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS b
        FROM kept)
),
toks AS (SELECT split, doc_id,
                CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS t FROM sp),
ord AS (SELECT *, row_number() OVER (PARTITION BY split ORDER BY doc_id) AS rn
        FROM toks),
rec AS (
  SELECT split, doc_id, rn, t, t AS acc, 0 AS pack FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.split, o.doc_id, o.rn, o.t,
         CASE WHEN r.acc + o.t > 512 THEN o.t ELSE r.acc + o.t END,
         CASE WHEN r.acc + o.t > 512 THEN r.pack + 1 ELSE r.pack END
  FROM rec r JOIN ord o ON o.split = r.split AND o.rn = r.rn + 1
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT pack) AS BIGINT) AS n_packs,
       CAST(SUM(t) AS BIGINT) AS total_tokens
FROM rec GROUP BY split
"""

ORACLES["conv_assembly"] = """WITH_PRELUDE
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS text_md5
FROM transcripts GROUP BY conv_id
"""

ORACLES["incremental_dedup"] = f"""
WITH c AS (
  SELECT DISTINCT {_FP} AS fp FROM documents WHERE doc_id % 3 = 0
),
b AS (
  SELECT doc_id, {_FP} AS fp FROM documents WHERE doc_id % 3 <> 0
)
SELECT doc_id FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp)
"""

ORACLES["pack_sequences"] = r"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS t
  FROM documents
),
ord AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM toks
),
rec AS (
  SELECT source, doc_id, rn, t, t AS acc, 0 AS pack FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.source, o.doc_id, o.rn, o.t,
         CASE WHEN r.acc + o.t > 256 THEN o.t ELSE r.acc + o.t END,
         CASE WHEN r.acc + o.t > 256 THEN r.pack + 1 ELSE r.pack END
  FROM rec r JOIN ord o ON o.source = r.source AND o.rn = r.rn + 1
)
SELECT source, CAST(pack AS INT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS total_tokens
FROM rec GROUP BY 1, 2
"""

ORACLES["pii_stats"] = r"""
SELECT source,
  CAST(SUM(len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
  CAST(SUM(len(regexp_extract_all(text,
    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))) AS BIGINT) AS n_ips,
  CAST(SUM(CASE WHEN
      len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
      OR len(regexp_extract_all(text,
        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) > 0
    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source
"""

ORACLES["repetition_stats"] = f"""
WITH {_DOC_TOKS.lstrip()},
per AS (
  SELECT source,
    greatest(len(tokens) - 2, 0) AS total,
    len(list_distinct(list_transform(
      generate_series(1, greatest(len(tokens) - 2, 0)),
      i -> array_to_string(list_slice(tokens, i, i + 2), ' ')))) AS dist
  FROM toks
),
ratios AS (
  SELECT source,
    CASE WHEN total > 0 THEN 1 - dist / CAST(total AS DOUBLE) ELSE 0 END AS r
  FROM per
)
SELECT source, round(avg(r), 4) AS avg_dup_ratio,
  CAST(SUM(CASE WHEN r > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ratios GROUP BY source
"""

ORACLES["stratified_sample"] = """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
  FROM documents
) WHERE rn <= 5
"""

ORACLES["train_split"] = """
SELECT source,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (
  SELECT source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS b
  FROM documents
)
GROUP BY 1, 2
"""

ORACLES["len_percentiles"] = """WITH_PRELUDE
SELECT role,
       round(quantile_cont(length(text), 0.5), 4) AS p50_len,
       round(quantile_cont(length(text), 0.95), 4) AS p95_len,
       CAST(COUNT(*) AS BIGINT) AS n_turns
FROM transcripts GROUP BY role
"""

# Per-hour top-3 trending terms: time_bucket + row_number, same
# (cnt desc, term asc) tiebreak as the Spark window
ORACLES["trending_terms"] = """WITH_PRELUDE,
terms AS (
  SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hour_start,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM transcripts
),
c AS (
  SELECT hour_start, term, COUNT(*) AS cnt FROM terms GROUP BY hour_start, term
),
r AS (
  SELECT hour_start, term, cnt,
         ROW_NUMBER() OVER (PARTITION BY hour_start
                            ORDER BY cnt DESC, term) AS rank
  FROM c
)
SELECT hour_start, term, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""

ORACLES["hourly_windows"] = """
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start,
       time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
         AS win_end,
       event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY win_start, win_end, event_type
"""

# Hopping windows: each event expands to its window/slide = 4 overlapping
# windows. Spark's window(ts, 1h, 15m) puts an event at t into every
# window starting at bucket15(t) - k*15min, k = 0..3 (all four satisfy
# start <= t < start + 1h since bucket15(t) <= t < bucket15(t) + 15min).
ORACLES["sliding_windows"] = """
WITH ev AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
expanded AS (
  SELECT event_type,
         time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE
           AS win_start
  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM expanded GROUP BY win_start, event_type
"""

# Multiline assembly: record id = running sum of non-continuation flags
# per conv; per-record md5 over turn-ordered lines.
ORACLES["multiline_assembly"] = """WITH_PRELUDE,
m AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN text LIKE '<tool:%' THEN 0 ELSE 1 END AS is_start
  FROM transcripts
),
r AS (
  SELECT conv_id, turn_idx, text,
         CAST(SUM(is_start) OVER (PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS record_id
  FROM m
)
SELECT conv_id, record_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS record_md5
FROM r GROUP BY conv_id, record_id
"""

# Skew-safe join: the oracle is the PLAIN join — the hot/cold split must
# be plan-only, never visible in results.
ORACLES["skew_join"] = """WITH_PRELUDE,
cd AS (SELECT conv_id, COUNT(*) AS conv_turns FROM transcripts GROUP BY conv_id)
SELECT role,
       CASE WHEN conv_turns >= 100 THEN 'large'
            WHEN conv_turns >= 10 THEN 'medium'
            ELSE 'small' END AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(DISTINCT t.conv_id) AS BIGINT) AS n_convs
FROM transcripts t JOIN cd ON t.conv_id = cd.conv_id
GROUP BY role, size_bucket
"""

# PMI collocations: pair doc-frequencies (tok<tok self-join form over
# the per-doc top-64-by-TF capped token set — mirrors queries.py
# _capped_doc_tokens) joined with UNCAPPED per-token doc-frequencies;
# ln(df_ab*N/(df_a*df_b)), support >= 5.
ORACLES["pmi_collocations"] = """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
             AS tok
    FROM documents
  ) GROUP BY doc_id, tok
),
top AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, tok) AS rn
    FROM tf
  ) WHERE rn <= 64
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
tok_df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
pair_df AS (
  SELECT x.tok AS a, y.tok AS b, CAST(COUNT(*) AS BIGINT) AS df_ab
  FROM top x JOIN top y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY a, b HAVING COUNT(*) >= 5
)
SELECT a, b, df_ab,
       round(ln(df_ab * n_docs / (da.df * db.df)), 6) AS pmi
FROM pair_df
JOIN tok_df da ON da.tok = a
JOIN tok_df db ON db.tok = b
CROSS JOIN n
ORDER BY pmi DESC, a, b LIMIT 20
"""

# Burst alert: hourly parsed-ERROR counts, lag ratio >= 2 (gap hours
# simply absent from the timeline in both engines).
ORACLES["error_burst"] = f"""WITH_PRELUDE,{_PARSED},
hourly AS (
  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_errors
  FROM parsed WHERE level = 'ERROR' GROUP BY hour
),
l AS (
  SELECT hour, n_errors,
         lag(n_errors) OVER (ORDER BY hour) AS prev_n
  FROM hourly
)
SELECT hour, n_errors, prev_n,
       round(CAST(n_errors AS DOUBLE) / prev_n, 4) AS ratio
FROM l WHERE prev_n IS NOT NULL AND n_errors >= 2 * prev_n
"""

# Term co-occurrence: doc self-join with tok < tok over the per-doc
# top-64-by-TF capped token set (ties: token asc — mirrors queries.py
# _capped_doc_tokens); same default-tokenizer split as bm25.
ORACLES["cooccurrence"] = """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
             AS tok
    FROM documents
  ) GROUP BY doc_id, tok
),
top AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, tok) AS rn
    FROM tf
  ) WHERE rn <= 64
)
SELECT x.tok AS a, y.tok AS b, CAST(COUNT(*) AS BIGINT) AS cnt
FROM top x JOIN top y ON x.doc_id = y.doc_id AND x.tok < y.tok
GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 20
"""

# TF-IDF top-k per doc: tf * ln(N/df) over the default-tokenizer split,
# ties on (rounded score desc, tok asc) — mirrors queries.py q_tfidf_topk.
ORACLES["tfidf_topk"] = """
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))
             AS tok
    FROM documents
  ) GROUP BY doc_id, tok
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
s AS (
  SELECT doc_id, tf.tok,
         round(tf * ln(n_docs / df), 6) AS tfidf
  FROM tf JOIN dfq USING (tok) CROSS JOIN n
),
r AS (
  SELECT doc_id, tok, tfidf,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rank
  FROM s
)
SELECT doc_id, tok, tfidf, rank FROM r WHERE rank <= 3
"""

# Bigram-LM perplexity (textstats.py:lm_perplexity): add-k smoothed
# P(b|a) = (c_ab + k)/(c_a + k*V) with k=0.5, c_a = bigram-history count,
# V = corpus distinct tokens; per-doc ppl = exp(-avg ln P) over lead()
# bigrams; per-source avg rounded 4dp. Docs with < 2 tokens excluded.
ORACLES["lm_perplexity"] = """
WITH tok AS (
  SELECT doc_id, source, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
  FROM (
    SELECT doc_id, source, unnest(toks) AS tok,
           generate_subscripts(toks, 1) AS pos
    FROM (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    )
  )
),
bg AS (
  SELECT doc_id, source, tok AS a,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM tok
  QUALIFY b IS NOT NULL
),
c_ab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
c_a AS (SELECT a, COUNT(*) AS c_a FROM bg GROUP BY a),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM tok),
per_doc AS (
  SELECT bg.doc_id, bg.source,
         exp(-avg(ln((c_ab + 0.5) / (c_a + 0.5 * v)))) AS ppl
  FROM bg JOIN c_ab USING (a, b) JOIN c_a USING (a) CROSS JOIN v
  GROUP BY bg.doc_id, bg.source
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(ppl), 4) AS avg_ppl
FROM per_doc GROUP BY source
"""

# Domain-mix rebalance: downsample-only toward target weights; keep rule
# = md5(id) 7-hex prefix < frac * 16^7 (operators/sampling.py:
# mix_rebalance md5-prefix parity).
ORACLES["mix_rebalance"] = """
WITH w AS (
  SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2),
                        ('src3', 0.1)) AS t(source, w)
),
c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
caps AS (SELECT c.source, n, w, n / w AS cap FROM c JOIN w USING (source)),
tot AS (SELECT MIN(cap) AS total FROM caps),
f AS (
  SELECT source, LEAST(1.0, (w * total) / n) AS frac
  FROM caps CROSS JOIN tot
),
kept AS (
  SELECT d.source, d.doc_id
  FROM documents d JOIN f USING (source)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
        < frac * 268435456
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM kept GROUP BY source
"""

# Funnel: chained stage mins (each conditioned on the previous stage's
# timestamp) via joins — equivalent to the Spark side's chained window
# mins (ts > NULL is never true, so missing stages propagate).
ORACLES["funnel"] = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM e GROUP BY user_id
),
v AS (
  SELECT e.user_id, MIN(e.ts) AS t_view
  FROM e JOIN u USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > u.t_signup
  GROUP BY e.user_id
),
b AS (
  SELECT e.user_id, MIN(e.ts) AS t_buy
  FROM e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT '1_signup' AS stage,
       CAST((SELECT COUNT(*) FROM u WHERE t_signup IS NOT NULL) AS BIGINT)
         AS n_users
UNION ALL
SELECT '2_signup_view', CAST((SELECT COUNT(*) FROM v) AS BIGINT)
UNION ALL
SELECT '3_signup_view_purchase', CAST((SELECT COUNT(*) FROM b) AS BIGINT)
"""

# Transition matrix: per-user ordered bigrams of event types; p = row-
# normalized transition probability.
ORACLES["transition_matrix"] = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
),
pairs AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM e
),
counts AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) /
             SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts
"""

# dense_rank with ties over thousand-bucketed price tiers.
ORACLES["dense_rank_ties"] = """
WITH tiers AS (
  SELECT n_name,
         CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS price_tier,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, price_tier
)
SELECT n_name, price_tier, n_orders,
       CAST(dense_rank() OVER (PARTITION BY n_name ORDER BY n_orders DESC)
            AS INT) AS tier_rank
FROM tiers QUALIFY tier_rank <= 3
"""

# Conversion latency: signup -> first later purchase, exact percentiles
# per signup-week cohort (quantile_cont == Spark percentile).
ORACLES["conversion_latency"] = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM e GROUP BY user_id
),
b AS (
  SELECT e.user_id, u.t_signup, MIN(e.ts) AS t_buy
  FROM e JOIN u USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > u.t_signup
  GROUP BY e.user_id, u.t_signup
),
lat AS (
  SELECT CAST(date_trunc('week', t_signup) AS TIMESTAMP) AS cohort_week,
         CAST(floor(epoch(t_buy)) AS BIGINT)
           - CAST(floor(epoch(t_signup)) AS BIGINT) AS latency_s
  FROM b
)
SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_converted,
       round(quantile_cont(latency_s, 0.5), 4) AS p50_s,
       round(quantile_cont(latency_s, 0.95), 4) AS p95_s
FROM lat GROUP BY cohort_week
"""

# Retention cohorts: signup-week cohort x weeks-since distinct actives.
ORACLES["retention"] = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
c AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM e WHERE event_type = 'signup' GROUP BY user_id
)
SELECT cohort_week,
       CAST(floor(date_diff('day', cohort_week,
              CAST(date_trunc('week', e.ts) AS TIMESTAMP)) / 7) AS INT)
         AS weeks_since,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM e JOIN c USING (user_id)
WHERE date_diff('day', cohort_week,
                CAST(date_trunc('week', e.ts) AS TIMESTAMP)) >= 0
GROUP BY cohort_week, weeks_since
"""

# Z-score outliers: per-type population stats, |v - mu| > 2 sigma.
ORACLES["zscore_outliers"] = """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers,
       round(MIN(e.value), 6) AS min_out, round(MAX(e.value), 6) AS max_out
FROM events e JOIN s ON e.event_type = s.event_type
WHERE abs(e.value - s.mu) > 2 * s.sigma
GROUP BY e.event_type
"""

# 7-day moving average over a RANGE frame keyed on epoch seconds (same
# numeric order key as Spark's rangeBetween).
ORACLES["moving_avg"] = """
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, day
)
SELECT event_type, day, n,
       round(avg(n) OVER (
         PARTITION BY event_type
         ORDER BY CAST(floor(epoch(day)) AS BIGINT)
         RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW), 6) AS avg_7d
FROM daily
"""

# Geometric mean: the UDAF's closed form. ln/exp in float64 in both
# engines; round(6) absorbs summation-order noise.
ORACLES["geomean_udaf"] = """
SELECT event_type,
       round(exp(avg(ln(abs(value) + 1))), 6) AS geomean_value
FROM events GROUP BY event_type
"""

# Forward fill: error events mask the metric to NULL; the running
# last-non-null carries the previous good value. Frame must be ROWS
# UNBOUNDED..CURRENT in both engines.
ORACLES["gap_fill"] = """
SELECT user_id, event_id,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS filled_value
FROM events
"""

ORACLES["ntile_quartiles"] = """
WITH q AS (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS quartile
  FROM events
)
SELECT event_type, CAST(quartile AS INT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(value), 6) AS lo, round(MAX(value), 6) AS hi
FROM q GROUP BY event_type, quartile
"""

# CDC compaction: latest change per user_id by (ts, event_id), tombstoned
# keys ('error' as latest) dropped.
ORACLES["cdc_compact"] = """
WITH r AS (
  SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_type, round(value, 6) AS last_value,
       ts AS last_ts
FROM r WHERE rn = 1 AND event_type <> 'error'
"""

# plain inequality join — DuckDB plans an IEJoin; same semantics as the
# Spark side's bucketed equi-join + range filter
ORACLES["range_join"] = """
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
  FROM events
)
SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT b.event_id) AS BIGINT) AS n_other
FROM ev a JOIN ev b ON a.user_id = b.user_id
 AND b.sec BETWEEN a.sec - 1800 AND a.sec + 1800
 AND b.event_id <> a.event_id
GROUP BY a.event_type
"""

ORACLES["time_rollup"] = """
WITH ev AS (
  SELECT event_type,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour,
         value
  FROM events
)
SELECT event_type, day, hour, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
       CASE WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS grain
FROM ev
GROUP BY GROUPING SETS ((event_type, day, hour), (event_type, day))
"""

# DuckDB's native ASOF JOIN: the golden implementation of the operator
ORACLES["asof_join"] = """
WITH ev AS (
  SELECT user_id AS custkey, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events
),
o AS (
  -- mirror of the operator's deterministic tie rule: one row per
  -- (key, ts), lexicographically-greatest value tuple wins
  SELECT o_custkey AS custkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
         max(o_totalprice) AS o_totalprice
  FROM orders GROUP BY 1, 2
),
j AS (
  SELECT ev.event_type, o.o_orderdate, o.o_totalprice
  FROM ev ASOF LEFT JOIN o
    ON ev.custkey = o.custkey AND ev.ts >= o.o_orderdate
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unmatched,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS matched_total
FROM j GROUP BY event_type
"""

ORACLES["datetime_multiformat"] = """
WITH s AS (
  SELECT CAST(event_id % 4 AS INT) AS fmt,
    CASE CAST(event_id % 4 AS INT)
      WHEN 0 THEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
      WHEN 1 THEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
      WHEN 2 THEN CAST(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS VARCHAR)
      ELSE CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR)
    END AS raw
  FROM events
),
p AS (
  SELECT fmt, COALESCE(
    TRY_CAST(raw AS TIMESTAMP),
    CASE
      WHEN abs(TRY_CAST(raw AS BIGINT)) BETWEEN 72057595 AND 8589934591
        THEN to_timestamp(TRY_CAST(raw AS BIGINT))::TIMESTAMP
      WHEN abs(TRY_CAST(raw AS BIGINT)) BETWEEN 72057595000 AND 8589934591000
        THEN epoch_ms(TRY_CAST(raw AS BIGINT))
      WHEN abs(TRY_CAST(raw AS BIGINT)) BETWEEN 72057595000000 AND 8589934591000000
        THEN make_timestamp(TRY_CAST(raw AS BIGINT))
    END) AS parsed
  FROM s
)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  CAST(MIN(floor(epoch(parsed))) AS BIGINT) AS min_epoch,
  CAST(MAX(floor(epoch(parsed))) AS BIGINT) AS max_epoch
FROM p GROUP BY fmt
"""

ORACLES["parse_casts"] = """
WITH raw AS (
  SELECT
    TRY_CAST(CASE WHEN event_id % 5 = 0 THEN 'not_a_number'
                  ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS num,
    CASE WHEN TRY_CAST('-3' AS BIGINT) >= 0 THEN TRY_CAST('-3' AS BIGINT) END
      AS neg_u64,
    CASE lower(trim(CASE CAST(event_id % 4 AS INT)
                    WHEN 0 THEN ' TRUE ' WHEN 1 THEN 'False'
                    WHEN 2 THEN 'yes' ELSE 'truthy' END))
      WHEN 'true' THEN TRUE WHEN 'false' THEN FALSE END AS b
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN num IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_nums,
  round(SUM(num), 2) AS num_sum,
  CAST(SUM(CASE WHEN neg_u64 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS neg_u64_null,
  CAST(SUM(CASE WHEN b = TRUE THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(SUM(CASE WHEN b = FALSE THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
  CAST(SUM(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
FROM raw
"""


# golden oracle: the input is synthesized per event_id branch, so the
# normalized output is statable exactly (invalid octet -> NULL; valid
# dotted-quad canonical form == the un-padded input; '::1' passthrough)
ORACLES["ip_normalize"] = """
WITH p AS (
  SELECT CASE CAST(event_id % 7 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN '10.' || CAST(event_id % 256 AS VARCHAR) || '.0.' ||
                CAST(event_id % 200 AS VARCHAR)
    WHEN 2 THEN '::1'
    ELSE '192.168.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
         CAST(event_id % 250 AS VARCHAR)
  END AS ip
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN ip IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
  CAST(COUNT(DISTINCT ip) AS BIGINT) AS n_distinct,
  MIN(ip) AS min_ip, MAX(ip) AS max_ip
FROM p
"""


# chat-format integrity / turn-level scrubbing (operators/chatformat.py)

ORACLES["role_alternation"] = """WITH_PRELUDE,
flags AS (
  SELECT conv_id,
    (turn_idx = 0 AND role <> 'system') AS v_ms,
    (role = lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
       AND role <> 'tool') AS v_sr,
    (role = 'tool'
       AND lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) = 'user')
      AS v_tu
  FROM transcripts
),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN v_ms THEN 1 ELSE 0 END) AS BIGINT) AS ms_t,
    CAST(COUNT(DISTINCT CASE WHEN v_ms THEN conv_id END) AS BIGINT) AS ms_c,
    CAST(SUM(CASE WHEN v_sr THEN 1 ELSE 0 END) AS BIGINT) AS sr_t,
    CAST(COUNT(DISTINCT CASE WHEN v_sr THEN conv_id END) AS BIGINT) AS sr_c,
    CAST(SUM(CASE WHEN v_tu THEN 1 ELSE 0 END) AS BIGINT) AS tu_t,
    CAST(COUNT(DISTINCT CASE WHEN v_tu THEN conv_id END) AS BIGINT) AS tu_c
  FROM flags
)
SELECT 'missing_system' AS violation, ms_t AS n_turns, ms_c AS n_convs FROM agg
UNION ALL
SELECT 'same_role_run', sr_t, sr_c FROM agg
UNION ALL
SELECT 'tool_after_user', tu_t, tu_c FROM agg
ORDER BY violation
"""

ORACLES["context_truncate"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
  FROM transcripts
),
marked AS (
  SELECT conv_id, turn_idx, n_tok,
    SUM(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 120
      AS keep
  FROM tok
)
SELECT conv_id,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
  MIN(CASE WHEN keep THEN turn_idx END) AS first_kept_idx
FROM marked GROUP BY conv_id ORDER BY conv_id
"""

_TURN_FP = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"

ORACLES["boilerplate_topk"] = f"""WITH_PRELUDE,
freq AS (
  SELECT {_TURN_FP} AS fp,
    CAST(COUNT(*) AS BIGINT) AS n_turns,
    CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
    MIN(text) AS example
  FROM transcripts GROUP BY 1
)
SELECT example, n_turns, n_convs FROM freq
WHERE n_convs >= 12
ORDER BY n_convs DESC, n_turns DESC, example
LIMIT 20
"""

ORACLES["boilerplate_scrub"] = f"""WITH_PRELUDE,
freq AS (
  SELECT fp FROM (
    SELECT {_TURN_FP} AS fp, COUNT(DISTINCT conv_id) AS nc
    FROM transcripts GROUP BY 1
  ) WHERE nc >= 12
)
SELECT role, CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM freq) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_dropped
FROM (SELECT role, {_TURN_FP} AS fp FROM transcripts) t
GROUP BY role ORDER BY role
"""

ORACLES["dialog_stats"] = """WITH_PRELUDE,
base AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
    CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
    CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_assistant,
    CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
    CAST(SUM(CASE WHEN role = 'assistant'
             THEN len(regexp_extract_all(text, '\\S+')) ELSE 0 END) AS BIGINT)
      AS assistant_tokens
  FROM transcripts GROUP BY conv_id
),
isl AS (
  SELECT conv_id,
    turn_idx - row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS g
  FROM transcripts WHERE role = 'tool'
),
chains AS (
  SELECT conv_id, CAST(MAX(c) AS BIGINT) AS max_tool_chain FROM (
    SELECT conv_id, g, COUNT(*) AS c FROM isl GROUP BY 1, 2
  ) GROUP BY conv_id
)
SELECT base.conv_id, n_turns, n_user, n_assistant, n_tool,
  COALESCE(max_tool_chain, 0) AS max_tool_chain, assistant_tokens
FROM base LEFT JOIN chains USING (conv_id) ORDER BY conv_id
"""

ORACLES["sft_pairs"] = """WITH_PRELUDE,
lagged AS (
  SELECT conv_id, role,
    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok,
    lag(role) OVER w AS prev_role,
    lag(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) OVER w
      AS prev_tok
  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(prev_tok) AS BIGINT) AS prompt_tokens,
  CAST(SUM(tok) AS BIGINT) AS completion_tokens
FROM lagged WHERE role = 'assistant' AND prev_role = 'user'
GROUP BY conv_id ORDER BY conv_id
"""

_SCRUBBED = (
  "regexp_replace(regexp_replace(text,"
  " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
  " '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g')"
)

ORACLES["pii_redact"] = f"""WITH_PRELUDE,
red AS (
  SELECT role, length(text) AS b, length({_SCRUBBED}) AS a,
         ({_SCRUBBED} <> text) AS hit
  FROM transcripts
)
SELECT role, CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
  CAST(SUM(b) AS BIGINT) AS chars_before,
  CAST(SUM(a) AS BIGINT) AS chars_after
FROM red GROUP BY role ORDER BY role
"""

ORACLES["shard_assign"] = """
WITH s AS (
  SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 8)
           AS shard,
         source,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tok
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(tok) AS BIGINT) AS total_tokens,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM s GROUP BY shard ORDER BY shard
"""

ORACLES["temperature_mix"] = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source
),
p AS (SELECT source, n_docs, pow(CAST(n_docs AS DOUBLE), 0.7) AS pp FROM c),
t AS (SELECT SUM(pp) AS tot FROM p)
SELECT source, n_docs, round(pp / tot, 6) AS mix_weight
FROM p CROSS JOIN t ORDER BY source
"""

ORACLES["length_trim"] = """
WITH toks AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n
  FROM documents
),
cuts AS (
  SELECT source, quantile_cont(n, 0.05) AS lo_cut,
         quantile_cont(n, 0.95) AS hi_cut
  FROM toks GROUP BY source
)
SELECT t.source, round(lo_cut, 4) AS lo_cut, round(hi_cut, 4) AS hi_cut,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN n < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
  CAST(SUM(CASE WHEN n > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long
FROM toks t JOIN cuts USING (source)
GROUP BY t.source, lo_cut, hi_cut ORDER BY t.source
"""

ORACLES["dup_cluster_stats"] = """WITH_PRELUDE,
sizes AS (
  SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM transcripts GROUP BY 1
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""

ORACLES["cross_source_leakage"] = """WITH_PRELUDE,
fps AS (
  SELECT DISTINCT
    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
    role AS source
  FROM transcripts
)
SELECT a.source AS src_a, b.source AS src_b,
  CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY n_shared DESC, src_a, src_b
"""

ORACLES["cdc_chunks"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
),
t AS (
  SELECT doc_id, unnest(generate_series(1, len(tokens))) AS pos, tokens
  FROM toks
),
t2 AS (SELECT doc_id, pos, tokens[pos] AS tok FROM t),
b AS (
  SELECT doc_id, pos, tok,
    CASE WHEN ('0x' || substr(md5(tok), 1, 2))::INT % 4 = 0
         THEN 1 ELSE 0 END AS is_b
  FROM t2
),
c AS (
  SELECT doc_id, pos, tok,
         SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
  FROM b
),
chunks AS (
  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk,
         COUNT(*) AS n_tok
  FROM c GROUP BY 1, 2
)
SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM chunks WHERE n_tok >= 2
GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_hits DESC, chunk LIMIT 20
"""

# repeated n-gram spans (operators/dedup.py:repeated_ngram_spans)

ORACLES["ngram_spans"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
),
g AS (
  SELECT doc_id,
    unnest(list_transform(
      generate_series(1, greatest(len(tokens) - 3, 0)),
      i -> array_to_string(list_slice(tokens, i, i + 3), ' '))) AS gram
  FROM toks
)
SELECT gram,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_hits
FROM g GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_hits DESC, gram
LIMIT 20
"""

# RAG-style chunking (operators/packing.py:chunk_documents)

ORACLES["chunk_docs"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS tokens
  FROM documents
),
starts AS (
  SELECT doc_id, tokens, unnest(generate_series(1, len(tokens), 24)) AS i
  FROM toks WHERE len(tokens) >= 1
)
SELECT doc_id,
  CAST((i - 1) // 24 AS INT) AS chunk_idx,
  CAST(i - 1 AS INT) AS start_tok,
  CAST(len(list_slice(tokens, i, i + 31)) AS INT) AS n_toks,
  array_to_string(list_slice(tokens, i, i + 31), ' ') AS chunk_text
FROM starts
"""

# int8-quantized ANN (operators/similarity.py:quantized_topk) — the
# quantization formula floor(x * 127/max|x| + 0.5) is replayed in float64
# and the dot products are exact integers, so rank order is identical.

_QUANTIZE = """
  list_transform(embedding, x ->
    CAST(floor(CAST(x AS DOUBLE) *
      (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0 END) + 0.5) AS BIGINT))
"""

ORACLES["quant_ann_topk"] = f"""
WITH cm AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
  FROM embeddings
),
cq AS (SELECT vec_id, {_QUANTIZE} AS qv FROM cm),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_inner_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM (SELECT * FROM cq WHERE vec_id < 5) q
  CROSS JOIN cq c
  WHERE q.vec_id <> c.vec_id
),
r AS (
  SELECT query_id, neighbor_id, qdot,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INT) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, qdot, rank FROM r WHERE rank <= 5
"""


def build_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Resolve the WITH_PRELUDE placeholder against the transcripts CTEs."""
    prelude = oracle_prelude(sf_dir)
    out = {}
    for name, sql in ORACLES.items():
        out[name] = sql.replace("WITH_PRELUDE", prelude)
    return out

# quality-filter cascade funnel (operators/textstats.py:filter_cascade)

ORACLES["filter_cascade"] = f"""WITH {_DOC_TOKS},
feat AS (
  SELECT len(tokens) AS n_tok, length(text) AS n_chars,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
      / CAST(greatest(length(text), 1) AS DOUBLE) AS punct,
    len(list_distinct(tokens))
      / CAST(greatest(len(tokens), 1) AS DOUBLE) AS dratio,
    len(list_filter(tokens, x -> list_contains(
        ['the','a','an','and','or','of','to','in','is','it'], x)))
      / CAST(greatest(len(tokens), 1) AS DOUBLE) AS sratio
  FROM toks
),
staged AS (
  SELECT CASE WHEN n_tok < 5 THEN 1 WHEN n_chars > 2000 THEN 2
              WHEN punct > 0.30 THEN 3 WHEN dratio < 0.30 THEN 4
              WHEN sratio < 0.01 THEN 5 ELSE 6 END AS stage
  FROM feat
),
killed AS (
  SELECT s.stage, COALESCE(k.cnt, 0) AS cnt
  FROM (SELECT unnest(generate_series(1, 6)) AS stage) s
  LEFT JOIN (SELECT stage, COUNT(*) AS cnt FROM staged GROUP BY stage) k
    USING (stage)
),
cum AS (
  SELECT stage, cnt,
    COALESCE(SUM(cnt) OVER (ORDER BY stage
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_,
    SUM(cnt) OVER () AS total
  FROM killed
)
SELECT CAST(stage AS INT) AS stage,
  (['min_tokens','max_chars','punct_ratio','repetition','stopwords','pass'])[stage]
    AS filter_name,
  CAST(total - before_ AS BIGINT) AS n_in,
  CAST(CASE WHEN stage = 6 THEN 0 ELSE cnt END AS BIGINT) AS n_killed,
  CAST(total - before_ - CASE WHEN stage = 6 THEN 0 ELSE cnt END AS BIGINT)
    AS n_out
FROM cum ORDER BY stage
"""

# Zipf slope per source (operators/textstats.py:zipf_slope)

ORACLES["zipf_slope"] = f"""WITH {_DOC_TOKS},
exploded AS (SELECT source AS grp, unnest(tokens) AS term FROM toks),
counts AS (SELECT grp, term, COUNT(*) AS freq FROM exploded GROUP BY 1, 2),
ranked AS (
  SELECT grp, freq,
    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY freq DESC, term) AS rank
  FROM counts
)
SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
         AS slope
FROM ranked WHERE rank <= 100
GROUP BY grp ORDER BY grp
"""

# SemDeDup: cluster-then-cosine semantic dedup
# (operators/similarity.py:semdedup) — same seed-centroid + rounded-cosine
# assignment replay as ivf_ann_topk; the EXISTS is the keep-lowest-id rule.

ORACLES["semdedup"] = """
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT vec_id, v FROM vecs WHERE vec_id >= 10 ORDER BY vec_id LIMIT 8)
),
asg AS (
  SELECT vec_id, v, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn
  FROM vecs CROSS JOIN cents
),
a AS (SELECT vec_id, v, cell FROM asg WHERE rn = 1),
d AS (
  SELECT x.cell, x.vec_id,
    EXISTS (SELECT 1 FROM a y WHERE y.cell = x.cell AND y.vec_id < x.vec_id
            AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.35) AS dup
  FROM a x
)
SELECT CAST(cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM d GROUP BY cell ORDER BY cell
"""

# Drain-lite log-template mining (operators/textstats.py:log_templates)

ORACLES["template_mining"] = """WITH_PRELUDE,
t AS (
  SELECT trim(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                             '\\s+', ' ', 'g')) AS template,
         conv_id
  FROM transcripts
)
SELECT template, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_keys
FROM t GROUP BY template ORDER BY n_rows DESC, template LIMIT 20
"""

# Hybrid BM25 + cosine retrieval fused with RRF
# (operators/search.py:hybrid_rrf) — lexical branch replays the bm25_topk
# oracle at n=50; semantic branch is round-6 cosine vs query vector 0
# (same convention as semdedup/knn); 1/(60+rank) is exact IEEE division.

ORACLES["rrf_fusion"] = """
WITH toks AS (
  SELECT doc_id AS d,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
),
doclen AS (SELECT d, COUNT(*) AS dl FROM toks GROUP BY d),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM doclen),
tf AS (
  SELECT d, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('hash', 'filter', 'slow') GROUP BY d, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.d,
         round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS w
  FROM tf JOIN dfreq USING (term) JOIN doclen USING (d) CROSS JOIN stats
),
lexs AS (
  SELECT d AS doc_id, round(SUM(w), 4) AS bm25
  FROM scored GROUP BY d ORDER BY bm25 DESC, doc_id LIMIT 50
),
lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
  FROM lexs
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
sems AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos
  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
  ORDER BY cos DESC, doc_id LIMIT 50
),
sem AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS sem_rank
  FROM sems
),
f AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
         round(COALESCE(1.0 / (60 + lex_rank), 0)
               + COALESCE(1.0 / (60 + sem_rank), 0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10
"""

# DSIR hashed-unigram importance weights
# (operators/sampling.py:dsir_weights) — same md5-prefix bucket trick as
# shard_assign; add-one smoothing on both histograms.

ORACLES["dsir_weights"] = f"""WITH {_DOC_TOKS},
tok AS (SELECT doc_id AS d, source AS src, unnest(tokens) AS term FROM toks),
b AS (
  SELECT d, src,
         ('0x' || substr(md5(term), 1, 6))::BIGINT % 64 AS bucket
  FROM tok
),
hist AS (
  SELECT bucket,
         SUM(CASE WHEN src = 'src0' THEN 1 ELSE 0 END) AS t_cnt,
         SUM(CASE WHEN src <> 'src0' THEN 1 ELSE 0 END) AS r_cnt
  FROM b GROUP BY bucket
),
tot AS (SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM hist),
lr AS (
  SELECT bucket,
         ln((t_cnt + 1) / CAST(t_tot + 64 AS DOUBLE))
           - ln((r_cnt + 1) / CAST(r_tot + 64 AS DOUBLE)) AS lr
  FROM hist CROSS JOIN tot
),
perdoc AS (
  SELECT d, src, SUM(lr) AS w FROM b JOIN lr USING (bucket) GROUP BY d, src
)
SELECT src AS source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(w), 4) AS avg_logratio,
       CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM perdoc GROUP BY src ORDER BY source
"""

# Unigram token-entropy histogram (operators/textstats.py:
# token_entropy_hist) — H = ln n - (sum c ln c)/n, 0.5-nat buckets.

ORACLES["entropy_hist"] = f"""WITH {_DOC_TOKS},
tok AS (SELECT doc_id AS d, source AS grp, unnest(tokens) AS term FROM toks),
tf AS (SELECT d, grp, term, COUNT(*) AS c FROM tok GROUP BY d, grp, term),
doc AS (
  SELECT d, grp, SUM(c) AS n,
         SUM(c * ln(CAST(c AS DOUBLE))) AS slc
  FROM tf GROUP BY d, grp
),
ent AS (SELECT grp, ln(CAST(n AS DOUBLE)) - slc / n AS h FROM doc)
SELECT grp, CAST(floor(h / 0.5) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs, round(AVG(h), 4) AS avg_entropy
FROM ent GROUP BY grp, bucket ORDER BY grp, bucket
"""

# Cluster-vs-label purity (operators/cluster.py:cluster_purity) — the
# pts..a3 chain replays the SAME two deterministic Lloyd iterations as
# the kmeans_clusters oracle above (kept verbatim so the two fits can
# never diverge silently); the tail joins ground-truth labels back and
# takes the per-cluster majority.

ORACLES["cluster_purity"] = """
WITH pts AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
init AS (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, v AS c
  FROM pts ORDER BY vec_id LIMIT 8
),
a1 AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN init
),
s1 AS (SELECT vec_id, v, cid FROM a1 WHERE rk = 1),
c1 AS (
  SELECT cid, list(av ORDER BY pos) AS c FROM (
    SELECT cid, pos, avg(val) AS av FROM (
      SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM s1)
    GROUP BY cid, pos)
  GROUP BY cid
),
a2 AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN c1
),
s2 AS (SELECT vec_id, v, cid FROM a2 WHERE rk = 1),
c2 AS (
  SELECT cid, list(av ORDER BY pos) AS c FROM (
    SELECT cid, pos, avg(val) AS av FROM (
      SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM s2)
    GROUP BY cid, pos)
  GROUP BY cid
),
a3 AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY list_distance(v, c), cid) AS rk
  FROM pts CROSS JOIN c2
),
fin AS (SELECT vec_id, cid FROM a3 WHERE rk = 1),
lab AS (
  SELECT f.cid, e.label, COUNT(*) AS c
  FROM fin f JOIN embeddings e USING (vec_id) GROUP BY f.cid, e.label
),
mj AS (
  SELECT cid, label, c,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rk2,
         SUM(c) OVER (PARTITION BY cid) AS n
  FROM lab
)
SELECT CAST(cid AS INT) AS cluster_id, CAST(n AS BIGINT) AS n_members,
       CAST(label AS INT) AS majority_label, CAST(c AS BIGINT) AS n_majority,
       round(c / CAST(n AS DOUBLE), 4) AS purity
FROM mj WHERE rk2 = 1 ORDER BY cluster_id
"""

# ANN quality eval (operators/similarity.py:retrieval_eval) — exact
# branch = knn_bruteforce oracle at queries<5; approx branch = the
# quant_ann_topk replay; metrics joined on list membership.

ORACLES["retrieval_eval"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
    FROM s) WHERE rk <= 5
),
cm AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
  FROM embeddings
),
cq AS (SELECT vec_id, {_QUANTIZE} AS qv FROM cm),
ap AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT cqq.vec_id AS query_id, cqc.vec_id AS neighbor_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY cqq.vec_id
        ORDER BY CAST(list_inner_product(cqq.qv, cqc.qv) AS BIGINT) DESC,
                 cqc.vec_id) AS INT) AS rank
    FROM (SELECT * FROM cq WHERE vec_id < 5) cqq CROSS JOIN cq cqc
    WHERE cqq.vec_id <> cqc.vec_id)
  WHERE rank <= 5
),
j AS (
  SELECT ap.query_id, ap.rank,
         CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM ap LEFT JOIN ex
    ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
),
idcg AS (SELECT SUM(1.0 / log2(i + 1)) AS v
         FROM generate_series(1, 5) AS t(i))
SELECT query_id, round(SUM(rel) / 5.0, 4) AS recall,
       round(SUM(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) ELSE 0 END)
             / (SELECT v FROM idcg), 4) AS ndcg
FROM j GROUP BY query_id ORDER BY query_id
"""

# Grok-extraction coverage audit (operators/parse.py:parse_coverage)

ORACLES["grok_coverage"] = f"""WITH_PRELUDE, {_PARSED},
t AS (
  SELECT COUNT(*) AS n_total,
    SUM(CASE WHEN level IS NOT NULL THEN 1 ELSE 0 END) AS f_level,
    SUM(CASE WHEN error_signature IS NOT NULL THEN 1 ELSE 0 END) AS f_error_signature,
    SUM(CASE WHEN tool_call IS NOT NULL THEN 1 ELSE 0 END) AS f_tool_call,
    SUM(CASE WHEN bytes IS NOT NULL THEN 1 ELSE 0 END) AS f_bytes,
    SUM(CASE WHEN op IS NOT NULL THEN 1 ELSE 0 END) AS f_op,
    SUM(CASE WHEN duration IS NOT NULL THEN 1 ELSE 0 END) AS f_duration
  FROM parsed
),
u AS (
  SELECT 'bytes' AS field, f_bytes AS n_present, n_total FROM t
  UNION ALL SELECT 'duration', f_duration, n_total FROM t
  UNION ALL SELECT 'error_signature', f_error_signature, n_total FROM t
  UNION ALL SELECT 'level', f_level, n_total FROM t
  UNION ALL SELECT 'op', f_op, n_total FROM t
  UNION ALL SELECT 'tool_call', f_tool_call, n_total FROM t
)
SELECT field, CAST(n_present AS BIGINT) AS n_present,
       CAST(n_total AS BIGINT) AS n_total,
       round(n_present / CAST(n_total AS DOUBLE), 4) AS pct
FROM u ORDER BY field
"""


# Distributed BPE merge training (operators/bpe.py:bpe_merges) — replay
# of 2 iterations. Greedy non-overlapping left-to-right merge is replayed
# with a run-parity closed form: within each maximal run of consecutive
# pair occurrences, greedy merges the positions at ODD offsets from the
# run start (runs longer than 1 only arise when lhs == rhs). Pair ties
# break (count desc, lhs asc, rhs asc) exactly as the Spark side.


def _bpe_iter(n: int, prev: str) -> str:
    """One BPE iteration: pair counts over {prev} -> argmax pair b{n} ->
    run-parity greedy merge -> merged vocabulary w{n}."""
    return f"""
p{n} AS (
  SELECT a, b, SUM(cnt) AS pc FROM (
    SELECT cnt, list_extract(s, i) AS a, list_extract(s, i + 1) AS b
    FROM (SELECT cnt, s, unnest(generate_series(1, len(s) - 1)) AS i
          FROM {prev} WHERE len(s) >= 2)
  ) GROUP BY a, b
),
b{n} AS (
  SELECT a, b, pc FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY pc DESC, a, b) AS rk FROM p{n})
  WHERE rk = 1
),
m{n} AS (
  SELECT w, cnt, s, i,
    (i < len(s) AND list_extract(s, i) = b{n}.a
       AND list_extract(s, i + 1) = b{n}.b) AS p
  FROM (SELECT w, cnt, s, unnest(generate_series(1, len(s))) AS i FROM {prev})
  CROSS JOIN b{n}
),
r{n} AS (
  SELECT *, i - COALESCE(MAX(CASE WHEN NOT p THEN i END) OVER (
      PARTITION BY w ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS c
  FROM m{n}
),
g{n} AS (SELECT *, (p AND c % 2 = 1) AS m FROM r{n}),
e{n} AS (SELECT *, LAG(m) OVER (PARTITION BY w ORDER BY i) AS pm FROM g{n}),
w{n} AS (
  SELECT w, cnt,
    list(CASE WHEN m THEN list_extract(s, i) || list_extract(s, i + 1)
              ELSE list_extract(s, i) END ORDER BY i) AS s
  FROM e{n} WHERE NOT COALESCE(pm, FALSE) GROUP BY w, cnt
)"""


ORACLES["bpe_merges"] = f"""WITH {_DOC_TOKS},
wc AS (SELECT w, COUNT(*) AS cnt
       FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY w),
w0 AS (SELECT w, cnt,
         list_transform(generate_series(1, length(w)),
                        i -> substr(w, i, 1)) AS s
       FROM wc),
{_bpe_iter(1, "w0")},
{_bpe_iter(2, "w1")}
SELECT CAST(1 AS INT) AS iter, a AS lhs, b AS rhs, a || b AS merged,
       CAST(pc AS BIGINT) AS pair_count FROM b1
UNION ALL
SELECT CAST(2 AS INT), a, b, a || b, CAST(pc AS BIGINT) FROM b2
ORDER BY iter
"""

# Conversation-template dedup (operators/dedup.py:conv_template_dedup)

ORACLES["conv_template_dedup"] = """WITH_PRELUDE,
mask AS (
  SELECT conv_id, turn_idx,
    array_to_string(list_slice(string_split(
      trim(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                          '\\s+', ' ', 'g')), ' '), 1, 2), ' ') AS mt
  FROM transcripts WHERE turn_idx < 3
),
cfp AS (
  SELECT conv_id,
         md5(string_agg(mt, chr(10) ORDER BY turn_idx)) AS tfp
  FROM mask GROUP BY conv_id
),
g AS (
  SELECT tfp, COUNT(*) AS n_convs, MIN(conv_id) AS keep_conv
  FROM cfp GROUP BY tfp
)
SELECT tfp, CAST(n_convs AS BIGINT) AS n_convs, keep_conv
FROM g WHERE n_convs >= 2 ORDER BY n_convs DESC, tfp LIMIT 20
"""


# Tokenizer fertility per source (operators/bpe.py:bpe_fertility) —
# reuses the 2-iteration BPE replay; the final vocabulary w2's symbol
# counts join back onto per-(source, word) counts.

ORACLES["bpe_fertility"] = f"""WITH {_DOC_TOKS},
gw AS (
  SELECT grp, w, COUNT(*) AS cnt
  FROM (SELECT source AS grp, unnest(tokens) AS w FROM toks)
  GROUP BY grp, w
),
wc AS (SELECT w, SUM(cnt) AS cnt FROM gw GROUP BY w),
w0 AS (SELECT w, cnt,
         list_transform(generate_series(1, length(w)),
                        i -> substr(w, i, 1)) AS s
       FROM wc),
{_bpe_iter(1, "w0")},
{_bpe_iter(2, "w1")},
lens AS (SELECT w, len(s) AS n_sym FROM w2)
SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * n_sym) AS BIGINT) AS n_bpe_tokens,
       round(SUM(cnt * n_sym) / CAST(SUM(cnt) AS DOUBLE), 4) AS fertility
FROM gw JOIN lens USING (w) GROUP BY grp ORDER BY grp
"""


# Agent-tool call audit (operators/agenttools.py:tool_call_audit)

ORACLES["tool_call_audit"] = r"""WITH_PRELUDE,
m AS (
  SELECT regexp_extract(text, '<tool:(\w+) arg=([\w-]+)>', 1) AS mtool,
         regexp_extract(text, '<tool:(\w+) arg=([\w-]+)>', 2) AS marg,
         tool AS ctool
  FROM transcripts
),
f AS (SELECT * FROM m WHERE mtool <> '')
SELECT mtool AS tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(COUNT(DISTINCT marg) AS BIGINT) AS n_distinct_args,
       CAST(SUM(CASE WHEN ctool IS DISTINCT FROM mtool THEN 1 ELSE 0 END)
            AS BIGINT) AS n_col_mismatch,
       mtool IN ('bash','browser','calc','python','search') AS in_registry
FROM f GROUP BY mtool ORDER BY mtool
"""

# Preference pairs (operators/chatformat.py:preference_pairs)

ORACLES["preference_pairs"] = r"""WITH_PRELUDE,
a AS (
  SELECT conv_id, turn_idx, len(regexp_extract_all(text, '\S+')) AS t
  FROM transcripts WHERE role = 'assistant'
),
r AS (
  SELECT conv_id, turn_idx, t,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t DESC, turn_idx ASC) AS rc,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY t ASC, turn_idx DESC) AS rr,
    COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM a
)
SELECT c.conv_id, CAST(c.turn_idx AS INT) AS chosen_turn,
       CAST(j.turn_idx AS INT) AS rejected_turn,
       CAST(c.t AS BIGINT) AS chosen_tokens,
       CAST(j.t AS BIGINT) AS rejected_tokens,
       CAST(c.t - j.t AS BIGINT) AS margin
FROM (SELECT * FROM r WHERE rc = 1 AND n >= 2) c
JOIN (SELECT * FROM r WHERE rr = 1) j USING (conv_id)
ORDER BY conv_id
"""

# SFT loss-mask spans (operators/chatformat.py:loss_mask_spans)

ORACLES["loss_mask_spans"] = """WITH_PRELUDE,
s AS (
  SELECT conv_id, turn_idx, role,
    COALESCE(SUM(length(text) + 1) OVER (
        PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_char,
    length(text) AS l
  FROM transcripts
)
SELECT conv_id, turn_idx, CAST(start_char AS BIGINT) AS start_char,
       CAST(start_char + l AS BIGINT) AS end_char
FROM s WHERE role = 'assistant' ORDER BY conv_id, turn_idx
"""

# Curriculum ordering (operators/sampling.py:curriculum_order) — the
# oracle's single ROW_NUMBER over the full order replays the engine's
# two-phase distributed rank exactly.

ORACLES["curriculum_order"] = r"""WITH s AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens, h, doc_id) AS global_rank,
         COUNT(*) OVER () AS total
  FROM s
)
SELECT doc_id, n_tokens, CAST(global_rank AS BIGINT) AS global_rank,
       CAST(floor((global_rank - 1) * 4 / greatest(total, 1)) AS INT) AS phase
FROM r ORDER BY global_rank
"""

# Conversation-prefix reuse (operators/convstruct.py:prefix_sharing)

ORACLES["prefix_sharing"] = """WITH_PRELUDE,
pre AS (
  SELECT CAST(turn_idx + 1 AS INT) AS depth,
         md5(string_agg(md5(text), '|') OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS fp
  FROM transcripts WHERE turn_idx < 8
),
by_fp AS (SELECT depth, fp, COUNT(*) AS n FROM pre GROUP BY depth, fp)
SELECT depth, CAST(SUM(n) AS BIGINT) AS n_convs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(MAX(n) AS BIGINT) AS max_share,
       ROUND(MAX(n) / CAST(SUM(n) AS DOUBLE), 4) AS share_frac
FROM by_fp GROUP BY depth ORDER BY depth
"""

# Same-tool loop runs (operators/convstruct.py:tool_loop_detect)

ORACLES["tool_loop_detect"] = """WITH_PRELUDE,
tt AS (
  SELECT conv_id, turn_idx, tool FROM transcripts WHERE tool IS NOT NULL
),
isl AS (
  SELECT conv_id, tool,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx)
       - ROW_NUMBER() OVER (PARTITION BY conv_id, tool ORDER BY turn_idx)
         AS island
  FROM tt
),
runs AS (
  SELECT conv_id, tool, island, COUNT(*) AS run_len
  FROM isl GROUP BY conv_id, tool, island HAVING COUNT(*) >= 3
)
SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_loops,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(SUM(run_len) AS BIGINT) AS n_loop_turns
FROM runs GROUP BY tool ORDER BY tool
"""

# Cross-doc exact-substring duplication (operators/dedup.py:
# crossdoc_dup_spans); n = 8 token shingles, islands merged per doc.

ORACLES["crossdoc_spans"] = f"""WITH {_DOC_TOKS},
docs AS (
  SELECT doc_id, source, tokens, len(tokens) AS n_tok FROM toks
),
pos AS (
  SELECT doc_id, source, tokens,
         unnest(range(1, greatest(n_tok - 7, 0) + 1)) AS pos
  FROM docs
),
sh AS (
  SELECT doc_id, source, pos,
         md5(array_to_string(tokens[pos:pos+7], ' ')) AS sh
  FROM pos
),
dup AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
dp AS (SELECT s.doc_id, s.source, s.pos FROM sh s JOIN dup USING (sh)),
isl AS (
  SELECT doc_id, source, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dp
),
isl2 AS (
  SELECT *, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
per_doc AS (
  SELECT doc_id, source, SUM(covered) AS dup_tokens FROM (
    SELECT doc_id, source, island, MAX(pos) + 8 - MIN(pos) AS covered
    FROM isl2 GROUP BY doc_id, source, island
  ) GROUP BY doc_id, source
),
tot AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens FROM docs
  GROUP BY source
),
dg AS (
  SELECT source, COUNT(*) AS n_dup_docs, SUM(dup_tokens) AS dup_tokens
  FROM per_doc GROUP BY source
)
SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(dg.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(dg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(COALESCE(dg.dup_tokens, 0) / CAST(t.n_tokens AS DOUBLE), 4)
         AS dup_frac
FROM tot t LEFT JOIN dg USING (source)
ORDER BY t.source
"""

# Embedding-geometry audit (operators/similarity.py:embedding_dim_stats)

ORACLES["embedding_dim_stats"] = """
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  SELECT label, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS val
  FROM e
),
cent AS (SELECT label, dim, AVG(val) AS m FROM dims GROUP BY label, dim),
centv AS (
  SELECT label, list(m ORDER BY dim) AS cvec, sqrt(SUM(m * m)) AS cnorm
  FROM cent GROUP BY label
),
rows_ AS (
  SELECT e.label, cnorm,
         sqrt(list_inner_product(v, v)) AS nrm,
         list_inner_product(v, cvec)
           / (sqrt(list_inner_product(v, v)) * cnorm) AS cos_c
  FROM e JOIN centv USING (label)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(nrm), 4) AS avg_norm,
       ROUND(ANY_VALUE(cnorm), 4) AS centroid_norm,
       ROUND(ANY_VALUE(cnorm) / AVG(nrm), 4) AS anisotropy,
       ROUND(AVG(cos_c), 4) AS avg_cos_centroid
FROM rows_ GROUP BY label ORDER BY label
"""

# Per-op duration SLO board (operators/telemetry.py:slo_stats)

ORACLES["slo_stats"] = f"""WITH_PRELUDE, {_PARSED}
SELECT op, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(quantile_cont(CAST(duration AS DOUBLE), 0.5), 4) AS p50_dur,
       ROUND(quantile_cont(CAST(duration AS DOUBLE), 0.95), 4) AS p95_dur,
       ROUND(quantile_cont(CAST(duration AS DOUBLE), 0.99), 4) AS p99_dur,
       CAST(MAX(duration) AS BIGINT) AS max_dur
FROM parsed WHERE op IS NOT NULL AND duration IS NOT NULL
GROUP BY op ORDER BY op
"""

# Top source IPs by parsed bytes (operators/telemetry.py:top_talkers)

ORACLES["top_talkers"] = """WITH_PRELUDE,
rows_ AS (
  SELECT regexp_extract(text, 'src: /([0-9.]+):', 1) AS src_ip,
         CAST(NULLIF(regexp_extract(text, 'bytes: (\\d+)', 1), '')
              AS BIGINT) AS bytes
  FROM transcripts
)
SELECT src_ip, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes
FROM rows_ WHERE src_ip <> ''
GROUP BY src_ip ORDER BY total_bytes DESC, src_ip LIMIT 10
"""

# Role-transition latency (operators/telemetry.py:latency_stats)

ORACLES["latency_stats"] = """WITH_PRELUDE,
lagged AS (
  SELECT role,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_role,
         GREATEST(epoch(CAST(ts AS TIMESTAMP))
           - LAG(epoch(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY conv_id ORDER BY turn_idx), 0.0) AS lat_s
  FROM transcripts
)
SELECT prev_role, role, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(lat_s), 4) AS avg_s,
       ROUND(quantile_cont(lat_s, 0.95), 4) AS p95_s,
       ROUND(MAX(lat_s), 4) AS max_s
FROM lagged WHERE prev_role IS NOT NULL
GROUP BY prev_role, role ORDER BY prev_role, role
"""

# Error-propagation audit (operators/telemetry.py:error_cascade); k = 3

ORACLES["error_cascade"] = f"""WITH_PRELUDE, {_PARSED},
errs AS (
  SELECT conv_id, turn_idx, error_signature FROM parsed
  WHERE level = 'ERROR'
),
flagged AS (
  SELECT error_signature,
         CASE WHEN LEAD(turn_idx) OVER (
                PARTITION BY conv_id ORDER BY turn_idx) - turn_idx <= 3
              THEN 1 ELSE 0 END AS cascades
  FROM errs
)
SELECT error_signature, CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(COALESCE(SUM(cascades), 0) AS BIGINT) AS n_cascades,
       ROUND(COALESCE(SUM(cascades), 0) / CAST(COUNT(*) AS DOUBLE), 4)
         AS cascade_rate
FROM flagged GROUP BY error_signature ORDER BY error_signature
"""

# Keep-best exact-dup collapse (operators/dedup.py:dedup_keep_best),
# over transcript turns: turn_key = conv_id#lpad(turn_idx,6), quality =
# length(text), keep = (quality desc, key asc).

ORACLES["dedup_keep_best"] = f"""WITH_PRELUDE,
fp AS (
  SELECT conv_id || '#' || lpad(CAST(turn_idx AS VARCHAR), 6, '0')
           AS turn_key,
         length(text) AS q, {_FP} AS fp
  FROM transcripts
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY fp ORDER BY q DESC, turn_key) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS n_members
  FROM fp
)
SELECT turn_key AS keep_id, CAST(q AS BIGINT) AS keep_quality,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY keep_id
"""

# Contrastive triple mining (operators/chatformat.py:contrastive_pairs);
# bucket = first 2 hex of md5(conv#idx), negatives = per-bucket top-2
# per-conv bests by hash, second used when the first shares the anchor's
# conversation.

ORACLES["contrastive_pairs"] = """WITH_PRELUDE,
anch0 AS (
  SELECT conv_id, turn_idx, role,
         LEAD(role) OVER w AS nr, LEAD(turn_idx) OVER w AS positive_idx
  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
anchors AS (
  SELECT conv_id, turn_idx AS anchor_idx, positive_idx,
         substr(md5(conv_id || '#' || turn_idx), 1, 2) AS bucket
  FROM anch0 WHERE role = 'user' AND nr = 'assistant'
),
cand AS (
  SELECT substr(md5(conv_id || '#' || turn_idx), 1, 2) AS bucket,
         conv_id AS neg_conv_id, turn_idx AS neg_idx,
         md5(conv_id || '#' || turn_idx) AS h
  FROM transcripts WHERE role = 'assistant'
),
pc AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY bucket, neg_conv_id ORDER BY h, neg_idx) AS rn
  FROM cand
),
bests AS (SELECT bucket, neg_conv_id, neg_idx, h FROM pc WHERE rn = 1),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h) AS rb
  FROM bests
),
r1 AS (SELECT bucket, neg_conv_id AS c1, neg_idx AS i1 FROM ranked WHERE rb = 1),
r2 AS (SELECT bucket, neg_conv_id AS c2, neg_idx AS i2 FROM ranked WHERE rb = 2),
picked AS (
  SELECT a.conv_id, a.anchor_idx, a.positive_idx,
         CASE WHEN r1.c1 <> a.conv_id THEN r1.c1 ELSE r2.c2 END AS neg_conv_id,
         CASE WHEN r1.c1 <> a.conv_id THEN r1.i1 ELSE r2.i2 END AS neg_idx
  FROM anchors a
  LEFT JOIN r1 USING (bucket) LEFT JOIN r2 USING (bucket)
)
SELECT * FROM picked WHERE neg_conv_id IS NOT NULL
ORDER BY conv_id, anchor_idx
"""

# Deterministic span-corruption spec (operators/packing.py:
# span_corruption); chunk = 3 tokens, threshold = int(65536 * 0.15).

ORACLES["span_corruption"] = f"""WITH {_DOC_TOKS},
base AS (
  SELECT doc_id, source, len(tokens) AS n_tok FROM toks
  WHERE len(tokens) > 0
),
chunks AS (
  SELECT doc_id, source, n_tok,
         unnest(range(0, CAST(ceil(n_tok / 3.0) AS INT))) AS c
  FROM base
),
masked AS (
  SELECT *, least(3, n_tok - c * 3) AS piece_len FROM chunks
  WHERE ('0x' || substr(md5(doc_id || '#' || c), 1, 4))::INT < 9830
),
spans AS (
  SELECT *, CASE WHEN c - LAG(c) OVER (
      PARTITION BY doc_id ORDER BY c) = 1 THEN 0 ELSE 1 END AS new_span
  FROM masked
),
per_doc AS (
  SELECT doc_id, SUM(piece_len) AS masked, SUM(new_span) AS spans
  FROM spans GROUP BY doc_id
),
stats AS (
  SELECT b.source, b.n_tok, p.masked, p.spans
  FROM base b LEFT JOIN per_doc p USING (doc_id)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(COALESCE(SUM(masked), 0) AS BIGINT) AS n_masked,
       CAST(COALESCE(SUM(spans), 0) AS BIGINT) AS n_spans,
       ROUND(AVG(COALESCE(masked, 0) / CAST(n_tok AS DOUBLE)), 4)
         AS avg_mask_frac
FROM stats GROUP BY source ORDER BY source
"""

# Per-day duplicate-rate trend (operators/dedup.py:dup_rate_trend):
# a turn is new iff it is the corpus-wide first occurrence of its
# fingerprint, attributed to the fingerprint's first day.

ORACLES["dup_rate_trend"] = f"""WITH_PRELUDE,
by_fp_day AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         {_FP} AS fp, COUNT(*) AS n
  FROM transcripts GROUP BY day, fp
),
first_day AS (SELECT fp, MIN(day) AS fd FROM by_fp_day GROUP BY fp)
SELECT day, CAST(SUM(n) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(n) - SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_turns,
       ROUND((SUM(n) - SUM(CASE WHEN day = fd THEN 1 ELSE 0 END))
             / CAST(SUM(n) AS DOUBLE), 4) AS dup_rate
FROM by_fp_day JOIN first_day USING (fp)
GROUP BY day ORDER BY day
"""

# Per-conversation prompt-echo (operators/chatformat.py:echo_rate):
# adjacent (user, assistant) pairs, echo = |∩ distinct tokens| / |user
# distinct tokens|.

ORACLES["echo_rate"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx, role,
    list_distinct(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
  FROM transcripts WHERE role IN ('user', 'assistant')
),
paired AS (
  SELECT conv_id, role, turn_idx, toks,
    LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
    LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx,
    LEAD(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_toks
  FROM tok
),
echoes AS (
  SELECT conv_id,
    len(list_intersect(toks, next_toks)) / CAST(len(toks) AS DOUBLE) AS echo
  FROM paired
  WHERE role = 'user' AND next_role = 'assistant'
    AND next_idx = turn_idx + 1 AND len(toks) >= 1
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(echo), 4) AS avg_echo, ROUND(MAX(echo), 4) AS max_echo
FROM echoes GROUP BY conv_id ORDER BY conv_id
"""

# Per-conversation context-budget growth profile
# (operators/chatformat.py:ctx_overflow), budget = 120 ws tokens.

ORACLES["ctx_overflow"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx,
         len(regexp_extract_all(text, '\\S+')) AS n_tok
  FROM transcripts
),
marked AS (
  SELECT conv_id, turn_idx, n_tok,
    SUM(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
)
SELECT conv_id,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  MIN(CASE WHEN cum > 120 THEN turn_idx END) AS overflow_turn_idx,
  CAST(SUM(CASE WHEN cum <= 120 THEN 1 ELSE 0 END) AS BIGINT)
    AS turns_in_budget,
  ROUND(SUM(CASE WHEN cum <= 120 THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 4) AS frac_in_budget
FROM marked GROUP BY conv_id ORDER BY conv_id
"""

# Marginal Gopher-style rule report (operators/textstats.py:gopher_rules)
# — every rule independent; pass_all = docs violating no rule.

ORACLES["gopher_rules"] = f"""WITH {_DOC_TOKS},
feat AS (
  SELECT
    len(tokens) AS n_tok,
    len(string_split(text, chr(10))) AS n_lines,
    length(text) - length(replace(text, '#', '')) AS hash_cnt,
    (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt,
    COALESCE(list_sum(list_transform(tokens, t -> length(t))), 0)
      / CAST(greatest(len(tokens), 1) AS DOUBLE) AS mean_wl,
    len(list_filter(tokens, t -> regexp_matches(t, '[a-z]')))
      / CAST(greatest(len(tokens), 1) AS DOUBLE) AS alpha_frac,
    len(list_filter(string_split(text, chr(10)),
        l -> regexp_matches(trim(l), '^[-*]')))
      / CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE)
      AS bullet_frac,
    len(list_filter(string_split(text, chr(10)),
        l -> regexp_matches(trim(l), '\\.\\.\\.$')))
      / CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE)
      AS ellipsis_frac,
    len(list_intersect(list_distinct(tokens),
        ['the','a','an','and','or','of','to','in','is','it'])) AS stop_d
  FROM toks
),
staged AS (
  SELECT
    CASE WHEN n_tok > 0 AND alpha_frac < 0.8 THEN 1 ELSE 0 END AS alpha_words,
    CASE WHEN n_lines > 0 AND bullet_frac > 0.9 THEN 1 ELSE 0 END
      AS bullet_lines,
    CASE WHEN n_lines > 0 AND ellipsis_frac > 0.3 THEN 1 ELSE 0 END
      AS ellipsis_lines,
    CASE WHEN n_tok > 0 AND (mean_wl < 2 OR mean_wl > 12) THEN 1 ELSE 0 END
      AS mean_word_len,
    CASE WHEN stop_d < 2 THEN 1 ELSE 0 END AS stopword_hits,
    CASE WHEN n_tok > 0 AND (hash_cnt + ell_cnt) / CAST(n_tok AS DOUBLE) > 0.1
      THEN 1 ELSE 0 END AS symbol_ratio,
    CASE WHEN n_tok < 8 OR n_tok > 1024 THEN 1 ELSE 0 END AS word_count
  FROM feat
),
agg AS (
  SELECT COUNT(*) AS total,
    SUM(alpha_words) AS alpha_words, SUM(bullet_lines) AS bullet_lines,
    SUM(ellipsis_lines) AS ellipsis_lines, SUM(mean_word_len) AS mean_word_len,
    SUM(stopword_hits) AS stopword_hits, SUM(symbol_ratio) AS symbol_ratio,
    SUM(word_count) AS word_count,
    SUM(CASE WHEN alpha_words + bullet_lines + ellipsis_lines + mean_word_len
             + stopword_hits + symbol_ratio + word_count = 0
        THEN 1 ELSE 0 END) AS pass_all
  FROM staged
)
SELECT rule, n_docs, ROUND(n_docs / CAST(total AS DOUBLE), 4) AS rate
FROM (
  SELECT 'alpha_words' AS rule, CAST(alpha_words AS BIGINT) AS n_docs, total FROM agg
  UNION ALL SELECT 'bullet_lines', CAST(bullet_lines AS BIGINT), total FROM agg
  UNION ALL SELECT 'ellipsis_lines', CAST(ellipsis_lines AS BIGINT), total FROM agg
  UNION ALL SELECT 'mean_word_len', CAST(mean_word_len AS BIGINT), total FROM agg
  UNION ALL SELECT 'stopword_hits', CAST(stopword_hits AS BIGINT), total FROM agg
  UNION ALL SELECT 'symbol_ratio', CAST(symbol_ratio AS BIGINT), total FROM agg
  UNION ALL SELECT 'word_count', CAST(word_count AS BIGINT), total FROM agg
  UNION ALL SELECT 'pass_all', CAST(pass_all AS BIGINT), total FROM agg
) ORDER BY rule
"""

# Deterministic Efraimidis–Spirakis weighted sample
# (operators/sampling.py:weighted_sample): u replayed from md5, weight =
# ws token count, key = u^(1/w), top-5 per source.

ORACLES["weighted_sample"] = """
WITH scored AS (
  SELECT source, doc_id,
    greatest(len(regexp_extract_all(text, '\\S+')), 1) AS weight,
    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
          / 4294967296.0,
        1.0 / greatest(len(regexp_extract_all(text, '\\S+')), 1)) AS key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, weight, key,
    row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS rank
  FROM scored
)
SELECT source, CAST(rank AS INT) AS rank, doc_id,
       CAST(weight AS BIGINT) AS weight, ROUND(key, 6) AS sample_key
FROM ranked WHERE rank <= 5 ORDER BY source, rank
"""

# Assistant self-repetition across consecutive assistant turns
# (operators/chatformat.py:turn_selfrep).

ORACLES["turn_selfrep"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx,
    list_distinct(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
  FROM transcripts WHERE role = 'assistant'
),
paired AS (
  SELECT conv_id, toks,
    LAG(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM tok
),
jacs AS (
  SELECT conv_id,
    len(list_intersect(toks, prev))
      / CAST(greatest(len(list_distinct(list_concat(toks, prev))), 1)
             AS DOUBLE) AS jac
  FROM paired WHERE prev IS NOT NULL
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(jac), 4) AS avg_selfrep, ROUND(MAX(jac), 4) AS max_selfrep,
       CAST(SUM(CASE WHEN jac > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM jacs GROUP BY conv_id ORDER BY conv_id
"""

# Herfindahl token-mass concentration per source
# (operators/textstats.py:hhi_concentration).

ORACLES["hhi_concentration"] = """
WITH t AS (
  SELECT source,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS t
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS total_tokens,
       ROUND(SUM(t * t) / (SUM(t) * SUM(t)), 4) AS hhi,
       ROUND((SUM(t) * SUM(t)) / SUM(t * t), 2) AS effective_docs
FROM t GROUP BY source ORDER BY source
"""

# Church–Gale burstiness of the top-30 corpus terms over conversations
# (operators/textstats.py:term_burstiness).

ORACLES["term_burstiness"] = """WITH_PRELUDE,
exploded AS (
  SELECT conv_id,
    unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM transcripts
),
per_group AS (
  SELECT term, conv_id, COUNT(*) AS c FROM exploded GROUP BY term, conv_id
)
SELECT term, CAST(SUM(c) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       ROUND(SUM(c) / CAST(COUNT(*) AS DOUBLE), 4) AS burstiness
FROM per_group GROUP BY term
ORDER BY n_total DESC, term LIMIT 30
"""

# Per-source unigram KL divergence from the corpus blend
# (operators/textstats.py:kl_drift).

ORACLES["kl_drift"] = f"""WITH {_DOC_TOKS},
gt AS (SELECT source, unnest(tokens) AS term FROM toks),
cnt AS (SELECT source, term, COUNT(*) AS c_gt FROM gt GROUP BY source, term),
corpus AS (SELECT term, SUM(c_gt) AS c_t FROM cnt GROUP BY term),
totals AS (SELECT source, SUM(c_gt) AS n_g FROM cnt GROUP BY source),
n AS (SELECT SUM(n_g) AS n_c FROM totals)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
  ROUND(SUM((c_gt / CAST(n_g AS DOUBLE))
            * ln((c_gt / CAST(n_g AS DOUBLE))
                 / (c_t / CAST(n_c AS DOUBLE)))), 4) AS kl
FROM cnt JOIN corpus USING (term) JOIN totals USING (source) CROSS JOIN n
GROUP BY source ORDER BY source
"""

# Per-tool failure attribution (operators/telemetry.py:tool_error_rate):
# a tool turn is charged when any of the next 2 turns is level=ERROR.

ORACLES["tool_error_rate"] = f"""WITH_PRELUDE, {_PARSED},
flagged AS (
  SELECT conv_id, turn_idx, tool,
    COALESCE(MAX(CASE WHEN level = 'ERROR' THEN 1 ELSE 0 END) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), 0) AS err_ahead
  FROM parsed
)
SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(SUM(err_ahead) AS BIGINT) AS n_err_follow,
       ROUND(SUM(err_ahead) / CAST(COUNT(*) AS DOUBLE), 4) AS err_rate
FROM flagged WHERE tool IS NOT NULL GROUP BY tool ORDER BY tool
"""

# Idle-gap session splits within conversations
# (operators/telemetry.py:conv_gap_sessions), gap threshold 1800 s.

ORACLES["conv_gap_sessions"] = """WITH_PRELUDE,
gaps AS (
  SELECT conv_id,
    epoch(CAST(ts AS TIMESTAMP))
      - LAG(epoch(CAST(ts AS TIMESTAMP)))
          OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
  FROM transcripts
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS n_sessions,
       ROUND(COALESCE(MAX(gap), 0.0), 1) AS max_gap_s
FROM gaps GROUP BY conv_id ORDER BY conv_id
"""

# Out-of-order timestamp audit (operators/telemetry.py:ooo_turns) —
# only conversations with at least one backward adjacent pair.

ORACLES["ooo_turns"] = """WITH_PRELUDE,
deltas AS (
  SELECT conv_id,
    epoch(CAST(ts AS TIMESTAMP))
      - LAG(epoch(CAST(ts AS TIMESTAMP)))
          OVER (PARTITION BY conv_id ORDER BY turn_idx) AS delta
  FROM transcripts
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_backward,
       ROUND(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS backward_rate,
       ROUND(-LEAST(MIN(delta), 0.0), 1) AS max_jump_s
FROM deltas WHERE delta IS NOT NULL
GROUP BY conv_id HAVING SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) > 0
ORDER BY conv_id
"""

# Log2-bucketed conversation-depth histogram
# (operators/convstruct.py:conv_depth_hist).

ORACLES["conv_depth_hist"] = """WITH_PRELUDE,
per_conv AS (
  SELECT conv_id, COUNT(*) AS n_turns,
         SUM(len(regexp_extract_all(text, '\\S+'))) AS toks
  FROM transcripts GROUP BY conv_id
)
SELECT bucket,
       CAST(pow(2.0, bucket) AS BIGINT) AS depth_min,
       CAST(COUNT(*) AS BIGINT) AS n_convs,
       CAST(SUM(n_turns) AS BIGINT) AS total_turns,
       CAST(SUM(toks) AS BIGINT) AS total_tokens
FROM (SELECT CAST(floor(log2(n_turns)) AS INT) AS bucket, n_turns, toks
      FROM per_conv)
GROUP BY bucket ORDER BY bucket
"""

# Per-day vocabulary novelty (operators/textstats.py:vocab_novelty_trend):
# a term is new on its corpus-wide first day.

ORACLES["vocab_novelty_trend"] = """WITH_PRELUDE,
tok AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
    unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM transcripts
),
per AS (SELECT day, term, COUNT(*) AS c FROM tok GROUP BY day, term),
first_day AS (SELECT term, MIN(day) AS fd FROM per GROUP BY term)
SELECT day, CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_terms,
       ROUND(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS novelty_rate
FROM per JOIN first_day USING (term)
GROUP BY day ORDER BY day
"""

# Tool-to-tool transition matrix (operators/agenttools.py:tool_bigrams).

ORACLES["tool_bigrams"] = """WITH_PRELUDE,
t AS (
  SELECT conv_id, turn_idx, tool FROM transcripts WHERE tool IS NOT NULL
),
pairs AS (
  SELECT tool AS prev_tool,
         LEAD(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tool
  FROM t
),
cnt AS (
  SELECT prev_tool, next_tool, COUNT(*) AS n
  FROM pairs WHERE next_tool IS NOT NULL GROUP BY prev_tool, next_tool
)
SELECT prev_tool, next_tool, CAST(n AS BIGINT) AS n,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_tool) AS DOUBLE), 4)
         AS prob
FROM cnt ORDER BY prev_tool, next_tool
"""

# Conversation outcomes: last turn's role/level per conversation
# (operators/convstruct.py:conv_outcomes).

ORACLES["conv_outcomes"] = f"""WITH_PRELUDE, {_PARSED},
ranked AS (
  SELECT conv_id, role, level,
    COUNT(*) OVER (PARTITION BY conv_id) AS n_turns,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn
  FROM parsed
)
SELECT role AS last_role, COALESCE(level, 'NONE') AS last_level,
       CAST(COUNT(*) AS BIGINT) AS n_convs,
       ROUND(AVG(n_turns), 2) AS avg_turns
FROM ranked WHERE rn = 1
GROUP BY last_role, last_level ORDER BY last_role, last_level
"""

# Per-day ingest volume + cumulative token share
# (operators/telemetry.py:ingest_volume_trend).

ORACLES["ingest_volume_trend"] = """WITH_PRELUDE,
per_day AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         COUNT(*) AS n_turns,
         SUM(len(regexp_extract_all(text, '\\S+'))) AS n_tokens
  FROM transcripts GROUP BY day
)
SELECT day, CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens,
       ROUND(SUM(n_tokens) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE), 4) AS cum_frac
FROM per_day ORDER BY day
"""

# Time-to-first-response percentiles (operators/telemetry.py:ttfr_stats).

ORACLES["ttfr_stats"] = """WITH_PRELUDE,
per AS (
  SELECT conv_id,
    MIN(CASE WHEN role = 'user'
        THEN epoch(CAST(ts AS TIMESTAMP)) END) AS t_u,
    MIN(CASE WHEN role = 'assistant'
        THEN epoch(CAST(ts AS TIMESTAMP)) END) AS t_a
  FROM transcripts GROUP BY conv_id
),
s AS (
  SELECT t_a - t_u AS s FROM per
  WHERE t_u IS NOT NULL AND t_a IS NOT NULL AND t_a >= t_u
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_convs, ROUND(AVG(s), 4) AS avg_s,
       ROUND(quantile_cont(s, 0.5), 4) AS p50_s,
       ROUND(quantile_cont(s, 0.95), 4) AS p95_s,
       ROUND(MAX(s), 4) AS max_s
FROM s
"""

# Token mass by relative turn position
# (operators/chatformat.py:turn_position_profile), 5 bands.

ORACLES["turn_position_profile"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx,
    len(regexp_extract_all(text, '\\S+')) AS n_tok,
    COUNT(*) OVER (PARTITION BY conv_id) AS n_turns
  FROM transcripts
),
agg AS (
  SELECT CAST(least(floor(5 * turn_idx / n_turns), 4) AS INT) AS bucket,
         COUNT(*) AS n_turns, ROUND(AVG(n_tok), 4) AS avg_tokens,
         SUM(n_tok) AS toks
  FROM tok GROUP BY bucket
)
SELECT bucket, CAST(n_turns AS BIGINT) AS n_turns, avg_tokens,
       ROUND(toks / CAST(SUM(toks) OVER () AS DOUBLE), 4) AS token_share
FROM agg ORDER BY bucket
"""

# Top-k system prompts by conversation count
# (operators/convstruct.py:system_prompt_stats).

ORACLES["system_prompt_stats"] = f"""WITH_PRELUDE,
sys AS (
  SELECT conv_id, {_FP} AS fp, text
  FROM transcripts WHERE turn_idx = 0 AND role = 'system'
),
nt AS (SELECT conv_id, COUNT(*) AS n_turns FROM transcripts GROUP BY conv_id),
agg AS (
  SELECT fp, COUNT(*) AS n_convs, ROUND(AVG(n_turns), 2) AS avg_turns,
         MIN(text) AS example
  FROM sys JOIN nt USING (conv_id) GROUP BY fp
)
SELECT example, CAST(n_convs AS BIGINT) AS n_convs, avg_turns
FROM agg ORDER BY n_convs DESC, example LIMIT 20
"""

# Assistant/user length-ratio percentiles over adjacent SFT pairs
# (operators/chatformat.py:response_ratio_stats).

ORACLES["response_ratio_stats"] = """WITH_PRELUDE,
base AS (
  SELECT conv_id, turn_idx, role,
         len(regexp_extract_all(text, '\\S+')) AS n_tok
  FROM transcripts WHERE role IN ('user', 'assistant')
),
paired AS (
  SELECT conv_id, turn_idx, role, n_tok,
    LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
    LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx,
    LEAD(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tok
  FROM base
),
ratios AS (
  SELECT next_tok / CAST(greatest(n_tok, 1) AS DOUBLE) AS r
  FROM paired
  WHERE role = 'user' AND next_role = 'assistant' AND next_idx = turn_idx + 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(r), 4) AS avg_ratio,
       ROUND(quantile_cont(r, 0.5), 4) AS p50_ratio,
       ROUND(quantile_cont(r, 0.95), 4) AS p95_ratio,
       ROUND(SUM(CASE WHEN r < 0.5 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS frac_short
FROM ratios
"""

# Per-conversation language mixing (operators/textstats.py:
# code_switch_stats): lang-id per TURN, distinct-language count +
# dominant language per conversation.

ORACLES["code_switch_stats"] = f"""WITH_PRELUDE,
ttoks AS (
  SELECT conv_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> x <> '') AS tokens
  FROM transcripts
),
hits AS (
  SELECT conv_id, {_HIT_COLS}
  FROM ttoks
),
pred AS (
  SELECT conv_id,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
         WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
         ELSE 'zh' END AS lang
  FROM hits
),
per AS (SELECT conv_id, lang, COUNT(*) AS c FROM pred GROUP BY conv_id, lang),
ranked AS (
  SELECT conv_id, lang, c,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY c DESC, lang) AS rn,
    SUM(c) OVER (PARTITION BY conv_id) AS n_turns,
    SUM(CASE WHEN lang <> 'und' THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id) AS n_langs
  FROM per
)
SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_langs AS BIGINT) AS n_langs, lang AS dominant_lang,
       ROUND(c / CAST(n_turns AS DOUBLE), 4) AS dominant_share
FROM ranked WHERE rn = 1 ORDER BY conv_id
"""

# Per-day PSI of the parsed bytes field
# (operators/telemetry.py:psi_drift): fixed 10Ki-wide bins, bins absent
# from either side excluded (mirrored estimator choice).

ORACLES["psi_drift"] = f"""WITH_PRELUDE, {_PARSED},
db AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         CAST(least(floor(bytes / 10000), 9) AS INT) AS bin,
         COUNT(*) AS c
  FROM parsed WHERE bytes IS NOT NULL GROUP BY day, bin
),
day_tot AS (SELECT day, SUM(c) AS n_day FROM db GROUP BY day),
corpus AS (SELECT bin, SUM(c) AS c_bin FROM db GROUP BY bin),
n AS (SELECT SUM(n_day) AS n_all FROM day_tot)
SELECT day, CAST(MAX(n_day) AS BIGINT) AS n_lines,
  ROUND(SUM((c / CAST(n_day AS DOUBLE) - c_bin / CAST(n_all AS DOUBLE))
            * ln((c / CAST(n_day AS DOUBLE))
                 / (c_bin / CAST(n_all AS DOUBLE)))), 4) AS psi
FROM db JOIN day_tot USING (day) JOIN corpus USING (bin) CROSS JOIN n
GROUP BY day ORDER BY day
"""

# Wall-clock conversation-duration histogram
# (operators/telemetry.py:conv_duration_hist).

ORACLES["conv_duration_hist"] = """WITH_PRELUDE,
per AS (
  SELECT conv_id,
    (epoch(MAX(CAST(ts AS TIMESTAMP)))
     - epoch(MIN(CAST(ts AS TIMESTAMP)))) / 60.0 AS mins,
    COUNT(*) AS n_turns
  FROM transcripts GROUP BY conv_id
),
b AS (
  SELECT CASE WHEN mins < 1 THEN -1
              ELSE CAST(floor(log2(mins)) AS INT) END AS bucket, n_turns
  FROM per
)
SELECT bucket,
       CAST(CASE WHEN bucket < 0 THEN 0 ELSE pow(2.0, bucket) END AS BIGINT)
         AS dur_min_minutes,
       CAST(COUNT(*) AS BIGINT) AS n_convs,
       ROUND(AVG(n_turns), 2) AS avg_turns
FROM b GROUP BY bucket ORDER BY bucket
"""

# Hourly active-conversation concurrency
# (operators/telemetry.py:active_convs_hourly).

ORACLES["active_convs_hourly"] = """WITH_PRELUDE,
per AS (
  SELECT conv_id,
    date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS h0,
    date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS h1
  FROM transcripts GROUP BY conv_id
),
hours AS (
  SELECT h0, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM per
)
SELECT strftime(h, '%Y-%m-%d %H:00') AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN h = h0 THEN 1 ELSE 0 END) AS BIGINT) AS n_starting
FROM hours GROUP BY hour ORDER BY hour
"""

# Per-tool execution latency (operators/telemetry.py:tool_latency_stats).

ORACLES["tool_latency_stats"] = """WITH_PRELUDE,
base AS (
  SELECT conv_id, turn_idx, tool, epoch(CAST(ts AS TIMESTAMP)) AS t,
    LAG(epoch(CAST(ts AS TIMESTAMP)))
      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_t
  FROM transcripts
),
lats AS (
  SELECT tool, GREATEST(t - prev_t, 0.0) AS lat_s
  FROM base WHERE tool IS NOT NULL AND prev_t IS NOT NULL
)
SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
       ROUND(AVG(lat_s), 4) AS avg_s,
       ROUND(quantile_cont(lat_s, 0.95), 4) AS p95_s,
       ROUND(MAX(lat_s), 4) AS max_s
FROM lats GROUP BY tool ORDER BY tool
"""

# Top-k embedding norm outliers
# (operators/similarity.py:embedding_norm_outliers).

ORACLES["embedding_norm_outliers"] = """
WITH norms AS (
  SELECT vec_id,
    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> x * x))) AS norm
  FROM embeddings
),
stats AS (SELECT AVG(norm) AS mu, stddev_pop(norm) AS sigma FROM norms),
z AS (
  SELECT vec_id, norm, (norm - mu) / sigma AS z FROM norms CROSS JOIN stats
),
ranked AS (
  SELECT vec_id, norm, z,
    ROW_NUMBER() OVER (ORDER BY abs(z) DESC, vec_id) AS rank
  FROM z
)
SELECT CAST(rank AS INT) AS rank, vec_id,
       ROUND(norm, 4) AS norm, ROUND(z, 4) AS z
FROM ranked WHERE rank <= 5 ORDER BY rank
"""

# Sink fan-out combination audit (operators/route.py:route_overlap).

# CASE arms generated from the router's SINK_PREDICATES_SQL spec —
# same source of truth as route.py's sink_predicates(), so the oracle
# tracks sink changes in lockstep (ADVICE r04).
_TAG_ARMS = ",\n      ".join(
    f"CASE WHEN {SINK_PREDICATES_SQL[s]} THEN '{s}' END" for s in SINKS
)
_NSINK_SUM = "\n     + ".join(
    f"CASE WHEN {SINK_PREDICATES_SQL[s]} THEN 1 ELSE 0 END" for s in SINKS
)
ORACLES["route_overlap"] = f"""WITH_PRELUDE, {_PARSED},
tagged AS (
  SELECT
    concat_ws('+',
      {_TAG_ARMS}) AS combo0,
    ({_NSINK_SUM}) AS n_sinks
  FROM parsed
),
agg AS (
  SELECT CASE WHEN combo0 = '' THEN '(none)' ELSE combo0 END AS combo,
         n_sinks, COUNT(*) AS n_turns
  FROM tagged GROUP BY combo, n_sinks
)
SELECT combo, CAST(n_sinks AS INT) AS n_sinks,
       CAST(n_turns AS BIGINT) AS n_turns,
       ROUND(n_turns / CAST(SUM(n_turns) OVER () AS DOUBLE), 4) AS share
FROM agg ORDER BY combo
"""

# Dimension-join coverage audit (operators/enrich.py:enrich_coverage).

ORACLES["enrich_coverage"] = """WITH_PRELUDE,
joined AS (
  SELECT t.role, t.tool, r.role_kind, tl.tool_family
  FROM transcripts t
  LEFT JOIN dim_roles r ON t.role = r.role
  LEFT JOIN dim_tools tl ON t.tool = tl.tool
)
SELECT role, CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(SUM(CASE WHEN role_kind IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_role_matched,
  CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_tool_turns,
  CAST(SUM(CASE WHEN tool IS NOT NULL AND tool_family IS NOT NULL
           THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_matched,
  ROUND(SUM(CASE WHEN tool IS NOT NULL AND tool_family IS NOT NULL
            THEN 1 ELSE 0 END)
        / CAST(NULLIF(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END), 0)
               AS DOUBLE), 4) AS tool_match_rate
FROM joined GROUP BY role ORDER BY role
"""

# Error incidence by relative conversation position
# (operators/telemetry.py:error_position_profile).

ORACLES["error_position_profile"] = f"""WITH_PRELUDE, {_PARSED},
base AS (
  SELECT conv_id, turn_idx,
    CASE WHEN level = 'ERROR' THEN 1 ELSE 0 END AS is_err,
    COUNT(*) OVER (PARTITION BY conv_id) AS n_turns
  FROM parsed
)
SELECT CAST(least(floor(5 * turn_idx / n_turns), 4) AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(is_err) AS BIGINT) AS n_errors,
       ROUND(SUM(is_err) / CAST(COUNT(*) AS DOUBLE), 4) AS err_rate
FROM base GROUP BY bucket ORDER BY bucket
"""

# Cross-source quality calibration map
# (operators/sampling.py:quality_calibration).

ORACLES["quality_calibration"] = """
WITH scored AS (
  SELECT source, len(regexp_extract_all(text, '\\S+')) AS raw
  FROM documents
),
cal AS (
  SELECT source, raw,
    CAST(least(floor(PERCENT_RANK() OVER (
      PARTITION BY source ORDER BY raw) * 10), 9) AS INT) AS decile
  FROM scored
)
SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(raw) AS BIGINT) AS min_raw,
       CAST(MAX(raw) AS BIGINT) AS max_raw
FROM cal GROUP BY source, decile ORDER BY source, decile
"""

# Context re-send amplification
# (operators/chatformat.py:ctx_amplification).

ORACLES["ctx_amplification"] = """WITH_PRELUDE,
tok AS (
  SELECT conv_id, turn_idx,
         len(regexp_extract_all(text, '\\S+')) AS n_tok
  FROM transcripts
),
marked AS (
  SELECT conv_id, n_tok,
    SUM(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tok
)
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(cum) AS BIGINT) AS resend_tokens,
       ROUND(SUM(cum) / CAST(NULLIF(SUM(n_tok), 0) AS DOUBLE), 2)
         AS amplification
FROM marked GROUP BY conv_id ORDER BY conv_id
"""
