"""Seeded input generators for the benchmark workloads.

Every table is generated by DuckDB from ``generate_series`` and the
two-argument ``hash(x, seed)``, so the same seed and scale give the same
Parquet files, byte for byte, and another seed gives different values
with the same distributions. The program under test only ever sees the
generated files.

- ``job``: the JOB-shaped string-key schema (title, company, keyword,
  person and four facts), with LIKE-able names at exact frequencies.
- ``pipeline``: ``documents`` with planted near-duplicates and
  clustered ``embeddings``.

Fixtures are cached on disk by (kind, scale, seed); generation is never
part of a measured interval.
"""

from __future__ import annotations

import os
import shutil
import time

#: word pool for LIKE-able names; frequencies are exact via modulus
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()

#: vocabulary of the generated documents
DOC_WORDS = ("a the data table row column key value join scan sort merge "
             "hash agg group order part line query spark stream batch "
             "window filter index small big fast slow customer supplier "
             "nation region price ship date flag status token model text "
             "label").split()

#: JOB fact rows (castinfo) and pipeline rows per input scale
SCALES = {
    "bench": {"job_fact": 600_000, "docs": 600, "vecs": 1000},
    "tiny": {"job_fact": 8_000, "docs": 100, "vecs": 100},
}

#: fixtures kept per kind; older ones are pruned when a new one is made
KEEP = 4


def _hasher(seed: int):
    """SQL for a non-negative BIGINT hash of ``expr`` salted by the seed
    and a per-column tag, so columns of one row stay independent."""
    def h(expr: str, tag: int) -> str:
        return f"(hash({expr}, {seed}, {tag}) >> 1)::BIGINT"
    return h


def _quote_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _copy(con, out_dir: str, name: str, sql: str) -> None:
    con.sql(f"COPY ({sql}) TO '{out_dir}/{name}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 131072)")


def _gen_job(con, out: str, seed: int, scale: dict) -> None:
    """Copy of the JOB-regime fixture with ``seed`` salted into every
    hash: string PKs, integer twin keys, a skewed ``movie_info`` fact.
    ``movie_keyword`` has 0.7 x fact rows (fact/3 in the JOB regime), so
    at a 600k fact the castinfo + movie_keyword shapes pass the engine's
    400k-row all-broadcast bail while a pass stays short. No kept
    template reads ``movie_info`` or most integer twins; they stay so
    that set-up registers the whole eight-table schema, as a user's
    catalog holds tables a given statement never touches."""
    fact = scale["job_fact"]
    nt, nc = max(1000, fact // 40), max(200, fact // 200)
    nk, np_ = max(100, fact // 700), max(500, fact // 100)
    wl = _quote_list(WORDS)
    H = _hasher(seed)

    def cap(expr: str) -> str:
        return f"(upper(substr({expr}, 1, 1)) || substr({expr}, 2))"

    cap1 = cap(f"list_extract({wl}, 1 + i % 20)")
    cap2 = cap(f"list_extract({wl}, 1 + (i // 11) % 20)")
    cap3 = cap(f"list_extract({wl}, 1 + (i // 13) % 20)")
    _copy(con, out, "title", f"""
      SELECT 't_' || lpad(i::VARCHAR, 9, '0') AS t_id,
             i::BIGINT AS t_id_i,
             'kind_' || ({H('i', 1)} % 10) AS t_kind,
             1950 + ({H('i', 2)} % 70) AS t_year,
             'The ' || list_extract({wl}, 1 + {H('i', 3)} % 20) || ' '
             || list_extract({wl}, 1 + {H('i', 4)} % 20) ||
             CASE WHEN {H('i', 5)} % 50 = 7 THEN ' Returns' ELSE '' END
               AS t_title
      FROM generate_series(1, {nt}) s(i)""")
    _copy(con, out, "company", f"""
      SELECT 'co_' || lpad(i::VARCHAR, 7, '0') AS co_id,
             i::BIGINT AS co_id_i,
             CASE WHEN i % 100 = 3 THEN 'Warner '
                  WHEN i % 100 = 4 THEN 'Universal '
                  ELSE '' END || {cap1} || ' ' || {cap2} || ' Pictures'
               AS co_name,
             CASE WHEN {H('i', 6)} % 10 < 3 THEN '[us]'
                  WHEN {H('i', 6)} % 10 < 5 THEN '[de]'
                  WHEN {H('i', 6)} % 10 < 7 THEN '[fr]'
                  ELSE '[' || list_extract({wl}, 1 + i % 13) || ']'
             END AS co_country
      FROM generate_series(1, {nc}) s(i)""")
    _copy(con, out, "keyword", f"""
      SELECT 'kw_' || lpad(i::VARCHAR, 7, '0') AS kw_id,
             CASE WHEN i = 77 THEN 'sequel'
                  WHEN i = 78 THEN 'based-on-novel'
                  WHEN i % 500 = 9 THEN 'character-name-in-title'
                  ELSE list_extract({wl}, 1 + i % 20) || '-' ||
                       (i % 997)::VARCHAR END AS kw_word
      FROM generate_series(1, {nk}) s(i)""")
    _copy(con, out, "person", f"""
      SELECT 'p_' || lpad(i::VARCHAR, 8, '0') AS p_id,
             {cap1} || ', ' || {cap3} AS p_name
      FROM generate_series(1, {np_}) s(i)""")
    _copy(con, out, "castinfo", f"""
      SELECT i AS ci_id,
             't_' || lpad((1 + {H('i', 10)} % {nt})::VARCHAR, 9, '0')
               AS ci_tid,
             (1 + {H('i', 10)} % {nt})::BIGINT AS ci_tid_i,
             'p_' || lpad((1 + {H('i', 11)} % {np_})::VARCHAR, 8, '0')
               AS ci_pid,
             'role_' || ({H('i', 12)} % 11) AS ci_role
      FROM generate_series(1, {fact}) s(i)""")
    _copy(con, out, "movie_company", f"""
      SELECT 't_' || lpad((1 + {H('i', 13)} % {nt})::VARCHAR, 9, '0')
               AS mc_tid,
             (1 + {H('i', 13)} % {nt})::BIGINT AS mc_tid_i,
             'co_' || lpad((1 + {H('i', 14)} % {nc})::VARCHAR, 7, '0')
               AS mc_coid,
             (1 + {H('i', 14)} % {nc})::BIGINT AS mc_coid_i,
             CASE WHEN {H('i', 15)} % 20 = 3
                    THEN '(presents) (co-production)'
                  WHEN {H('i', 15)} % 20 = 4 THEN '(as metro pictures)'
                  ELSE '(' || (i % 1009)::VARCHAR || ')' END AS mc_note
      FROM generate_series(1, {fact // 4}) s(i)""")
    _copy(con, out, "movie_keyword", f"""
      SELECT 't_' || lpad((1 + {H('i', 16)} % {nt})::VARCHAR, 9, '0')
               AS mk_tid,
             (1 + {H('i', 16)} % {nt})::BIGINT AS mk_tid_i,
             'kw_' || lpad((1 + {H('i', 17)} % {nk})::VARCHAR, 7, '0')
               AS mk_kwid
      FROM generate_series(1, {fact * 7 // 10}) s(i)""")
    # 30% of movie_info rows hit 1,000 hot titles: the skewed string FK
    _copy(con, out, "movie_info", f"""
      SELECT CASE WHEN {H('i', 18)} % 10 < 3
               THEN 't_' || lpad((1 + {H('i', 19)} % 1000)::VARCHAR,
                                 9, '0')
               ELSE 't_' || lpad((1 + {H('i', 20)} % {nt})::VARCHAR,
                                 9, '0')
             END AS mi_tid,
             CASE WHEN {H('i', 21)} % 25 = 3
                    THEN 'rating: ' || (i % 10)::VARCHAR
                  WHEN {H('i', 21)} % 25 = 4
                    THEN 'runtime: ' || (60 + i % 120)::VARCHAR
                  ELSE 'info-' || (i % 499)::VARCHAR END AS mi_info,
             1950 + ({H('i', 22)} % 70) AS mi_year
      FROM generate_series(1, {fact // 5}) s(i)""")


def _gen_pipeline(con, out: str, seed: int, scale: dict) -> None:
    """Documents with planted near-duplicates (every fifth document
    copies its predecessor with about one word in eight replaced) and
    64-dimensional embeddings around ten seeded centres."""
    H = _hasher(seed)
    wl = _quote_list(DOC_WORDS)
    nw = len(DOC_WORDS)
    langs = _quote_list(["en", "en", "en", "de", "fr", "es", "zh"])
    _copy(con, out, "documents", f"""
      WITH d AS (
        SELECT i, CASE WHEN i % 5 = 1 THEN i - 1 ELSE i END AS b
        FROM generate_series(0, {scale['docs'] - 1}) s(i)
      ), t AS (
        SELECT i, b, array_to_string(list_transform(
                 range(10 + {H('b', 1)} % 70),
                 j -> CASE WHEN i <> b AND {H('i, j', 2)} % 8 = 0
                      THEN list_extract({wl}, 1 + {H('i, j', 3)} % {nw})
                      ELSE list_extract({wl}, 1 + {H('b, j', 4)} % {nw})
                      END), ' ') AS text
        FROM d
      )
      SELECT i::BIGINT AS doc_id, text,
             list_extract({langs}, 1 + {H('i', 5)} % 7) AS lang,
             'src' || ({H('i', 6)} % 20) AS source,
             length(text)::BIGINT AS n_chars
      FROM t ORDER BY i""")
    _copy(con, out, "embeddings", f"""
      WITH v AS (
        SELECT i, {H('i', 7)} % 10 AS label
        FROM generate_series(0, {scale['vecs'] - 1}) s(i)
      )
      SELECT i::BIGINT AS vec_id,
             list_transform(range(64), d ->
               (({H('label, d', 8)} % 2001)::DOUBLE / 1000.0 - 1.0) * 0.2
               + (({H('i, d', 9)} % 2001)::DOUBLE / 1000.0 - 1.0) * 0.05
             )::FLOAT[] AS embedding,
             label::INTEGER AS label
      FROM v ORDER BY i""")


_GENERATORS = {"job": _gen_job, "pipeline": _gen_pipeline}


def ensure(kind: str, scale: str, seed: int, root: str) -> str:
    """Directory holding the ``kind`` fixture for (scale, seed), made on
    first use. Returns the directory; generation time is not returned
    because no metric includes it."""
    import duckdb

    base = os.path.join(root, "fixtures")
    sizes = "-".join(str(v) for v in SCALES[scale].values())
    out = os.path.join(base, f"{kind}-{scale}-{sizes}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    os.makedirs(base, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
        _GENERATORS[kind](con, tmp, seed, SCALES[scale])
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _prune(base, kind)
    return out


def _prune(base: str, kind: str) -> None:
    mine = [os.path.join(base, d) for d in os.listdir(base)
            if d.startswith(f"{kind}-") and ".tmp" not in d]
    mine.sort(key=os.path.getmtime, reverse=True)
    for old in mine[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    import sys

    t0 = time.time()
    print(ensure(sys.argv[1], sys.argv[2], int(sys.argv[3]),
                 sys.argv[4] if len(sys.argv) > 4 else ".bench_build"),
          f"{time.time() - t0:.2f}s")
