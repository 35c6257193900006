"""The benchmark's task configs and their independent DuckDB oracles.

`cohort_large` runs the flagship task (`FLAGSHIP_YAML`): a NULL-start input
window with an `_ANY_EVENT` floor, a trigger -> +48h gap window that
excludes `death`, and a forward event-bound target
`gap.end -> discharge_or_death` (a derived `or`) carrying the label.
`FLAGSHIP_SQL` evaluates the same windows with per-subject window functions
over the collapsed `(subject_id, timestamp)` frame, in the style of the
catalog's `aces_flagship` oracle, and returns the MEDS label columns
`(subject_id, prediction_time, boolean_value)`.

`curation_dedup` runs `CURATION_YAML`; `curation_kept` is the catalog's
`curation_pipeline_ngram` oracle for it.
"""

FLAGSHIP_YAML = """\
predicates:
  admission: { code: ADMISSION }
  death: { code: DEATH }
  discharge: { code: DISCHARGE }
  discharge_or_death: { expr: "or(discharge, death)" }
trigger: admission
windows:
  input:
    start: NULL
    end: trigger + 24h
    start_inclusive: True
    end_inclusive: True
    has: { _ANY_EVENT: "(2, None)" }
    index_timestamp: end
  gap:
    start: trigger
    end: start + 48h
    start_inclusive: False
    end_inclusive: True
    has: { death: "(None, 0)" }
  target:
    start: gap.end
    end: start -> discharge_or_death
    start_inclusive: False
    end_inclusive: True
    label: death
"""

W = "PARTITION BY subject_id ORDER BY ts"

# `ev` (subject_id, ts, code) is bound to the shard by `flagship_expected`.
FLAGSHIP_SQL = f"""WITH
p AS (SELECT subject_id, ts,
  SUM(CASE WHEN code = 'ADMISSION' THEN 1 ELSE 0 END) AS admission,
  SUM(CASE WHEN code = 'DEATH' THEN 1 ELSE 0 END) AS death,
  SUM(CASE WHEN code = 'DISCHARGE' THEN 1 ELSE 0 END) AS discharge
  FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
q AS (SELECT *, CASE WHEN discharge > 0 OR death > 0 THEN 1 ELSE 0 END
  AS discharge_or_death FROM p),
w AS (SELECT subject_id, ts, admission AS trig,
  COUNT(*) OVER ({W} RANGE BETWEEN UNBOUNDED PRECEDING
    AND INTERVAL 24 HOURS FOLLOWING) AS n_any,
  SUM(death) OVER ({W} RANGE BETWEEN INTERVAL 1 MICROSECOND FOLLOWING
    AND INTERVAL 48 HOURS FOLLOWING) AS gap_death,
  MIN(CASE WHEN discharge_or_death > 0 THEN ts END) OVER ({W} RANGE BETWEEN
    INTERVAL 48 HOURS FOLLOWING AND UNBOUNDED FOLLOWING) AS end_ts,
  SUM(death) OVER ({W} RANGE BETWEEN UNBOUNDED PRECEDING
    AND INTERVAL 48 HOURS FOLLOWING) AS lab_before
  FROM q),
c AS (SELECT subject_id, ts, SUM(death) OVER ({W} ROWS UNBOUNDED PRECEDING) AS lab_cum FROM q)
SELECT w.subject_id, w.ts + INTERVAL 24 HOURS AS prediction_time,
  (c.lab_cum - w.lab_before) > 0 AS boolean_value
FROM w JOIN c ON c.subject_id = w.subject_id AND c.ts = w.end_ts
WHERE w.trig > 0 AND w.n_any >= 2 AND COALESCE(gap_death, 0) = 0"""

QUALITY_STEP = "quality: { min_tokens: 10 }"
DEDUP_STEP = "dedup_ngram: { threshold: 0.8, shingle_n: 3 }"
CURATION_YAML = f"steps:\n  - {QUALITY_STEP}\n  - {DEDUP_STEP}\n"

# Order-independent multiset fingerprint of a MEDS label frame. The same
# arithmetic runs in Spark (perfbench.Main.labelFingerprint); every term stays
# below 2^63, so both sides are exact.
FP_MOD = 2147483647


def fingerprint_sql(rel):
    h = (f"((subject_id * 1000003 + epoch_us(prediction_time) + "
         f"CASE WHEN boolean_value THEN 7919 ELSE 0 END) % {FP_MOD})")
    return (f"SELECT COUNT(*)::BIGINT, COALESCE(SUM({h}), 0)::BIGINT, "
            f"COALESCE(SUM(({h} * {h}) % {FP_MOD}), 0)::BIGINT FROM ({rel})")


def flagship_expected(con, shard):
    """(rows, sum h, sum h^2) of the oracle's label frame over `shard`."""
    sql = FLAGSHIP_SQL.replace(
        "WITH\n", f"WITH ev AS (SELECT subject_id, CAST(time AS TIMESTAMP) AS ts, code "
                  f"FROM read_parquet('{shard}')),\n", 1)
    return list(con.execute(fingerprint_sql(sql)).fetchone())


def curation_kept(con, docs):
    """Kept document ids of the `docs` parquet after quality {min_tokens: 10}
    and exact 3-shingle Jaccard >= 0.8 dedup with min-id connected-component
    keep (the catalog's `curation_pipeline_ngram` oracle).
    """
    con.execute(f"CREATE OR REPLACE TABLE base AS SELECT doc_id, text FROM read_parquet('{docs}')")
    return [r[0] for r in con.execute(r"""
WITH RECURSIVE q AS (SELECT doc_id, text FROM base
  WHERE len(string_split(lower(text), ' ')) >= 10),
sl AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM q),
sh0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(t) - 1),
    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s FROM sl WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, s FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
jp AS (SELECT doc_a, doc_b FROM pairs
  JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8),
e AS (SELECT doc_a AS u, doc_b AS v FROM jp UNION ALL SELECT doc_b, doc_a FROM jp),
reach AS (SELECT u, u AS m FROM (SELECT DISTINCT u FROM e)
  UNION SELECT e.u, r.m FROM e JOIN reach r ON e.v = r.u),
dr AS (SELECT u FROM reach GROUP BY u HAVING MIN(m) < u)
SELECT doc_id FROM q WHERE doc_id NOT IN (SELECT u FROM dr) ORDER BY 1""").fetchall()]
