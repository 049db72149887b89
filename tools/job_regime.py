"""JOB-regime certification: string equi-keys, LIKE-heavy dim filters,
multi-fact fanout around a shared dim — the reference's entire published
workload shape (README.md:81-115, test_job_queries.sh:21-23: 113 IMDB
join-order queries), which the TPC-H legs never exercise (integer keys,
range-partitioned facts, BETWEEN filters).

Fixture (DuckDB-generated, deterministic modulus arithmetic — no RNG):
an IMDB-shaped schema with ALL join keys as strings:

  title          NT rows   t_id PK, t_kind (10), t_year, t_title
  company        NC rows   co_id PK, co_name (rare LIKE-able words at
                           known frequencies), co_country
  keyword        NK rows   kw_id PK, kw_word ('sequel' is one exact row)
  person         NP rows   p_id PK, p_name
  castinfo       F rows    ci_tid -> title, ci_pid -> person, ci_role
  movie_company  F/4 rows  mc_tid -> title, mc_coid -> company, mc_note
  movie_keyword  F/3 rows  mk_tid -> title, mk_kwid -> keyword

Queries are JOB-style SQL texts (MIN aggregates over many-way joins
with LIKE / IN / BETWEEN dim predicates), run through ``Engine.sql()``
auto-extraction — the same entry the reference's optimizer hook rewrites
— in five legs: off / rpt (transfer only) / native (Spark's runtime
blooms, thresholds lowered so they genuinely fire below the 10GB gate)
/ composed (both, under the engine's one native-bloom rule: the
statement runs with injection on, only its eager jobs with it off, and
an op a native bloom of the original plan covers drops at gate
"native") / dual (both, with ``suppress_native_rf=False``: the
no-suppression ablation). Every query is oracle-checked against DuckDB
ON THE SAME PARQUET at full scale before any timing.

Run:  python -u tools/job_regime.py [--json OUT] [--runs N]
Env:  DRPT_JOB_DIR  (default /tmp/drpt_job)
      DRPT_JOB_FACT (castinfo rows, default 100_000_000)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = os.environ.get("DRPT_JOB_DIR", "/tmp/drpt_job")
FACT = int(os.environ.get("DRPT_JOB_FACT", 100_000_000))
NT = max(1000, FACT // 40)      # titles
NC = max(200, FACT // 200)      # companies
NK = max(100, FACT // 700)      # keywords
NP = max(500, FACT // 100)      # persons
SHUFFLE = int(os.environ.get("DRPT_SHUFFLE_PARTITIONS", "64"))

os.environ.setdefault("DRPT_DRIVER_MEM", "16g")

#: word pools for LIKE-able payloads; frequencies are exact via modulus
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def ensure_fixture() -> None:
    import duckdb

    tag = f"f{FACT}_v3"  # v2: + movie_info (skewed string FK)
    # v3: + integer twin keys (t_id_i/co_id_i and the matching fact
    # FKs) so mixed integer/string-key chains can straddle the r8
    # string-key conditioning boundary (VERDICT r8 next #8)
    marker = os.path.join(OUT_DIR, f"_DONE_{tag}")
    if os.path.exists(marker):
        return
    os.makedirs(OUT_DIR, exist_ok=True)
    t0 = time.time()
    con = duckdb.connect()
    con.sql(f"SET threads={os.cpu_count()}")
    wl = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"

    def copy(sql: str, name: str) -> None:
        con.sql(f"COPY ({sql}) TO '{OUT_DIR}/{name}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 1048576)")

    def cap(expr: str) -> str:
        # DuckDB ships no initcap(); capitalize the first letter by hand
        return f"(upper(substr({expr}, 1, 1)) || substr({expr}, 2))"

    cap1 = cap(f"list_extract({wl}, 1 + i % 20)")
    cap2 = cap(f"list_extract({wl}, 1 + (i // 11) % 20)")
    cap3 = cap(f"list_extract({wl}, 1 + (i // 13) % 20)")

    # dims: string PKs; names mix pool words with RARE marker words at
    # exact frequencies so LIKE predicates have known selectivities
    copy(f"""
      SELECT 't_' || lpad(i::VARCHAR, 9, '0') AS t_id,
             i::BIGINT AS t_id_i,
             'kind_' || (i % 10) AS t_kind,
             1950 + (hash(i + 31337) % 70) AS t_year,
             'The ' || list_extract({wl}, 1 + i % 20) || ' ' ||
             list_extract({wl}, 1 + (i // 7) % 20) ||
             CASE WHEN i % 50 = 7 THEN ' Returns' ELSE '' END AS t_title
      FROM generate_series(1, {NT}) s(i)""", "title")
    copy(f"""
      SELECT 'co_' || lpad(i::VARCHAR, 7, '0') AS co_id,
             i::BIGINT AS co_id_i,
             CASE WHEN i % 100 = 3 THEN 'Warner '
                  WHEN i % 100 = 4 THEN 'Universal '
                  ELSE '' END ||
             {cap1} || ' ' ||
             {cap2} ||
             ' Pictures' AS co_name,
             CASE WHEN i % 10 < 3 THEN '[us]'
                  WHEN i % 10 < 5 THEN '[de]'
                  WHEN i % 10 < 7 THEN '[fr]'
                  ELSE '[' || list_extract({wl}, 1 + i % 13) || ']'
             END AS co_country
      FROM generate_series(1, {NC}) s(i)""", "company")
    copy(f"""
      SELECT 'kw_' || lpad(i::VARCHAR, 7, '0') AS kw_id,
             CASE WHEN i = 77 THEN 'sequel'
                  WHEN i = 78 THEN 'based-on-novel'
                  WHEN i % 500 = 9 THEN 'character-name-in-title'
                  ELSE list_extract({wl}, 1 + i % 20) || '-' ||
                       (i % 997)::VARCHAR END AS kw_word
      FROM generate_series(1, {NK}) s(i)""", "keyword")
    copy(f"""
      SELECT 'p_' || lpad(i::VARCHAR, 8, '0') AS p_id,
             {cap1} || ', ' ||
             {cap3} AS p_name
      FROM generate_series(1, {NP}) s(i)""", "person")
    # facts: uniform string FKs via hash(i)+salt (skew is certified
    # separately in SKEW_r04; the regime under test is key TYPE +
    # fanout). LINEAR maps (i*k % N) are out: a fact predicate that
    # fixes i's residue (mc_note's i%20) pins the dim index's residue
    # through any congruence, and the conjunction with a dim predicate
    # on the same residue class (co_country's j%10) goes empty
    copy(f"""
      SELECT i AS ci_id,
             't_' || lpad((1 + (hash(i) % {NT}))::VARCHAR, 9, '0') AS ci_tid,
             (1 + (hash(i) % {NT}))::BIGINT AS ci_tid_i,
             'p_' || lpad((1 + (hash(i + 123457) % {NP}))::VARCHAR, 8, '0') AS ci_pid,
             'role_' || (i % 11) AS ci_role
      FROM generate_series(1, {FACT}) s(i)""", "castinfo")
    copy(f"""
      SELECT 't_' || lpad((1 + (hash(i + 777) % {NT}))::VARCHAR, 9, '0') AS mc_tid,
             (1 + (hash(i + 777) % {NT}))::BIGINT AS mc_tid_i,
             'co_' || lpad((1 + (hash(i + 999331) % {NC}))::VARCHAR, 7, '0') AS mc_coid,
             (1 + (hash(i + 999331) % {NC}))::BIGINT AS mc_coid_i,
             CASE WHEN i % 20 = 3 THEN '(presents) (co-production)'
                  WHEN i % 20 = 4 THEN '(as metro pictures)'
                  ELSE '(' || (i % 1009)::VARCHAR || ')' END AS mc_note
      FROM generate_series(1, {FACT // 4}) s(i)""", "movie_company")
    copy(f"""
      SELECT 't_' || lpad((1 + (hash(i + 424243) % {NT}))::VARCHAR, 9, '0') AS mk_tid,
             (1 + (hash(i + 424243) % {NT}))::BIGINT AS mk_tid_i,
             'kw_' || lpad((1 + (hash(i + 515151) % {NK}))::VARCHAR, 7, '0') AS mk_kwid
      FROM generate_series(1, {FACT // 3}) s(i)""", "movie_keyword")
    # skewed string FK: 30% of movie_info rows hit 1,000 hot titles
    # (per-key ~{FACT//5} * 0.3 / 1000 rows), the rest uniform — the
    # skewed-join regime the reference's IMDB workload hits on
    # title_id hot spots (README.md:81-89); JOB queries jq15/jq16/
    # jq20/jq25 join through it
    copy(f"""
      SELECT CASE WHEN i % 10 < 3
                  THEN 't_' || lpad((1 + (hash(i * 7 + 11) % 1000))::VARCHAR, 9, '0')
                  ELSE 't_' || lpad((1 + (hash(i + 616161) % {NT}))::VARCHAR, 9, '0')
             END AS mi_tid,
             CASE WHEN i % 25 = 3 THEN 'rating: ' || (i % 10)::VARCHAR
                  WHEN i % 25 = 4 THEN 'runtime: ' || (60 + i % 120)::VARCHAR
                  ELSE 'info-' || (i % 499)::VARCHAR END AS mi_info,
             1950 + (hash(i + 99) % 70) AS mi_year
      FROM generate_series(1, {FACT // 5}) s(i)""", "movie_info")
    open(marker, "w").close()
    print(f"# fixture: castinfo={FACT} at {OUT_DIR} "
          f"in {time.time() - t0:.1f}s", file=sys.stderr, flush=True)


#: JOB-style query texts — MIN() aggregates, string equi-joins,
#: LIKE/IN/BETWEEN dim predicates, 2-6 join edges, two facts sharing
#: the title dim (the 113-query workload's recurring shapes)
QUERIES = {
    # JOB 1a-shape: 2 edges, one LIKE-selective fact note + country dim
    "jq1": """
      SELECT MIN(t_title) AS min_title, MIN(t_year) AS min_year,
             COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND co_country = '[de]'
        AND mc_note LIKE '%(presents)%'
        AND t_year BETWEEN 2005 AND 2010
    """,
    # JOB 3b/4-shape: keyword exact + company LIKE, two facts on title
    "jq2": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, movie_company, company
      WHERE mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = 'sequel'
        AND co_name LIKE '%Warner%'
    """,
    # deep fanout: three facts + three dims around title (6 edges)
    "jq3": """
      SELECT MIN(t_title) AS min_title, MIN(p_name) AS min_name,
             COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword,
           movie_company, company
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = 'based-on-novel'
        AND co_country = '[us]'
        AND p_name LIKE 'Zeta%'
        AND t_kind IN ('kind_2', 'kind_5')
    """,
    # IN-list + year window + role filter, castinfo-heavy
    "jq4": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND ci_role IN ('role_3', 'role_7')
        AND p_name LIKE '%Kappa%'
        AND t_year BETWEEN 1990 AND 1995
        AND t_title LIKE '%Returns%'
    """,
    # JOB 6-shape: two facts on title, exact keyword + person prefix —
    # the selective-arm-reaches-the-other-fact cascade
    "jq5": """
      SELECT MIN(t_title) AS min_title, MIN(p_name) AS min_name,
             COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'character-name-in-title'
        AND p_name LIKE 'Sigma%'
    """,
    # JOB 11-shape: company chain with a NOT LIKE fact predicate
    "jq6": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND co_name LIKE '%Universal%'
        AND mc_note NOT LIKE '%(as metro pictures)%'
        AND t_kind = 'kind_7'
    """,
    # deep fanout with WEAK dims everywhere (low-selectivity LIKEs):
    # jq3's native-wins shape — every arm passes 30-100%, so transfer
    # reductions are small while fact-fact fanout dominates
    "jq7": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, movie_keyword, keyword, movie_company,
           company
      WHERE ci_tid = t_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND co_country IN ('[us]', '[de]')
        AND kw_word LIKE 'alpha-%'
        AND t_year BETWEEN 1980 AND 2010
    """,
    # bounded-downside probe: NO selective predicate anywhere — the
    # gates must disengage (or tie); any loss here is pure overhead
    "jq8": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
    """,
    # multi-fact chain: person -> castinfo -> title -> movie_keyword,
    # selective only at the person end (transitive reach test)
    "jq9": """
      SELECT MIN(t_title) AS min_title, MIN(kw_word) AS min_kw,
             COUNT(*) AS n
      FROM person, castinfo, title, movie_keyword, keyword
      WHERE ci_pid = p_id AND ci_tid = t_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND p_name = 'Alpha, Alpha'
    """,
    # all three facts + all three dims, every dim selective (the
    # maximal star: 6 edges, JOB 28/30-shape)
    "jq10": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword,
           movie_company, company
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = 'sequel'
        AND co_name LIKE '%Warner%'
        AND p_name LIKE 'Theta%'
        AND t_year > 2000
    """,
    # selective fact predicate, UNfiltered dims: reduction must flow
    # fact -> title -> other fact (backward-ish reach)
    "jq11": """
      SELECT MIN(t_title) AS min_title, MIN(co_name) AS min_co,
             COUNT(*) AS n
      FROM title, movie_company, company, movie_keyword
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND mk_tid = t_id
        AND mc_note = '(as metro pictures)'
        AND t_kind = 'kind_1'
    """,
    # IN-subquery (mark-join path) over a fact: the transfer must
    # leave the mark alone and still compose (Q18's shape, JOB keys)
    "jq12": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND co_country = '[fr]'
        AND t_id IN (SELECT mk_tid FROM movie_keyword, keyword
                     WHERE mk_kwid = kw_id AND kw_word = 'sequel')
    """,
    # year-window + two LIKE-selective dims on one fact each, sharing
    # title: the classic JOB two-arm pincer
    "jq13": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company, castinfo, person
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND ci_tid = t_id AND ci_pid = p_id
        AND co_name LIKE 'Warner %'
        AND p_name LIKE 'Omicron, %'
        AND t_year BETWEEN 1975 AND 1985
    """,
    # LEFT JOIN fanout: preserved-side title must never be reduced by
    # the outer arm; company arm stays selective
    "jq14": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n,
             COUNT(kw_id) AS n_kw
      FROM title
      JOIN movie_company ON mc_tid = t_id
      JOIN company ON mc_coid = co_id
      LEFT JOIN movie_keyword ON mk_tid = t_id
      LEFT JOIN keyword ON mk_kwid = kw_id AND kw_word = 'sequel'
      WHERE co_name LIKE '%Warner%' AND co_country = '[us]'
    """,
    # -- r8 additions: subtree-fanout, LIKE-heavy weak dims, skewed FK --
    # skewed fact reached through a rescued keyword arm: reduction must
    # flow keyword -> movie_keyword -> title -> movie_info (hot keys)
    "jq15": """
      SELECT MIN(t_title) AS min_title, MIN(mi_info) AS min_info,
             COUNT(*) AS n
      FROM title, movie_info, movie_keyword, keyword
      WHERE mi_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'sequel'
    """,
    # skewed fact + selective title predicates, no dim arm at all
    "jq16": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info
      WHERE mi_tid = t_id
        AND t_title LIKE '%Returns%' AND t_year > 2005
        AND mi_info LIKE 'rating:%'
    """,
    # LIKE-heavy with ~100% selectivity everywhere: bounded downside —
    # the gates must disengage or tie, never lose
    "jq17": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND co_name LIKE '%Pictures%'
        AND mc_note LIKE '%(%'
    """,
    # low-selectivity keyword LIKE over two facts (native-friendly
    # weak-arm fanout)
    "jq18": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, movie_company
      WHERE mk_tid = t_id AND mk_kwid = kw_id AND mc_tid = t_id
        AND kw_word LIKE '%-1%'
        AND t_year BETWEEN 1995 AND 2005
    """,
    # three-hop chain: the company filter must cross TWO facts to reach
    # keyword (company -> movie_company -> title -> movie_keyword)
    "jq19": """
      SELECT MIN(kw_word) AS min_kw, COUNT(*) AS n
      FROM company, movie_company, title, movie_keyword, keyword
      WHERE mc_coid = co_id AND mc_tid = t_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND co_name LIKE 'Universal %'
        AND t_kind = 'kind_3'
    """,
    # pincer over the skewed fact: person arm + movie_info skew share
    # title
    "jq20": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_info
      WHERE ci_tid = t_id AND ci_pid = p_id AND mi_tid = t_id
        AND p_name LIKE 'Lambda, %'
        AND mi_info LIKE 'runtime:%'
        AND t_year BETWEEN 1960 AND 1990
    """,
    # IN-subquery mark over the skewed fact (jq12's shape + skew)
    "jq21": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info
      WHERE mi_tid = t_id
        AND t_id IN (SELECT mc_tid FROM movie_company, company
                     WHERE mc_coid = co_id AND co_name LIKE '%Warner%')
        AND t_year > 2010
    """,
    # anti-join shape via LEFT ... IS NULL: titles with a company but
    # no 'sequel' keyword (the transfer must leave the anti arm alone)
    "jq22": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title
      JOIN movie_company ON mc_tid = t_id
      JOIN company ON mc_coid = co_id
      LEFT JOIN (SELECT mk_tid FROM movie_keyword, keyword
                 WHERE mk_kwid = kw_id AND kw_word = 'sequel') sk
             ON sk.mk_tid = t_id
      WHERE sk.mk_tid IS NULL
        AND co_country = '[de]' AND co_name LIKE 'Warner%'
    """,
    # weak year windows on both fact arms, no selective dim: native's
    # home turf (the jq7 class, wider)
    "jq23": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, movie_company, company
      WHERE mk_tid = t_id AND mc_tid = t_id AND mc_coid = co_id
        AND co_country IN ('[us]', '[de]', '[fr]')
        AND t_year BETWEEN 1970 AND 2000
    """,
    # empty build cascade: a keyword that matches nothing must
    # short-circuit every downstream arm
    "jq24": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, castinfo
      WHERE mk_tid = t_id AND mk_kwid = kw_id AND ci_tid = t_id
        AND kw_word = 'zzz-no-such-keyword'
    """,
    # skewed fact with a weak dim filter (hot keys survive the
    # reduction): skew-robustness of the rescued tier
    "jq25": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_info, movie_company, company
      WHERE mi_tid = t_id AND mc_tid = t_id AND mc_coid = co_id
        AND co_country = '[fr]'
        AND t_kind IN ('kind_0', 'kind_4', 'kind_8')
    """,
    # -- r9 additions (VERDICT r8 #8): mixed integer/string-key chains
    #    that straddle the string-key conditioning boundary, plus more
    #    weak-dim LIKE fanouts (the jq7/jq23 class gate 2g prices away)
    # mixed keys in ONE query: selective company reaches the fact over
    # the INTEGER twin edge (broadcast semi fine, bitmap/rescue must
    # refuse), while the title edge stays string
    "jq26": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid_i = co_id_i
        AND co_name LIKE 'Universal %'
        AND t_kind = 'kind_2'
    """,
    # integer mid-hop: keyword's reduction reaches title only across an
    # INTEGER edge — the rescue must refuse it (conditioning); native
    # blooms may serve that hop in the native and dual legs
    "jq27": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword
      WHERE mk_tid_i = t_id_i AND mk_kwid = kw_id
        AND kw_word = 'sequel'
    """,
    # weak-LIKE fanout, jq23 widened to three arms: every dim passes
    # 70-95%, gate 2g must disengage the lot (tie, never lose)
    "jq28": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, movie_company, company
      WHERE mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND co_country IN ('[us]', '[de]', '[fr]')
        AND kw_word LIKE '%a%'
        AND t_year > 1955
    """,
    # keep/kill mix on one query: Warner prefix is ~1% (op survives),
    # the 66-year window keeps ~94% (gate 2g kills the title op)
    "jq29": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company, movie_keyword
      WHERE mc_tid = t_id AND mc_coid = co_id AND mk_tid = t_id
        AND co_name LIKE 'Warner %'
        AND t_year BETWEEN 1950 AND 2015
    """,
    # jq17 widened: BOTH dims all-pass LIKEs — the engine must fully
    # disengage (gate 2g on observed counts), leaving native free
    "jq30": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company, movie_keyword, keyword
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND co_name LIKE '%Pictures%'
        AND kw_word LIKE '%a%'
    """,
    # selective person arm must cross castinfo over the INTEGER title
    # twin while the skewed movie_info arm joins by string: transitive
    # reach with a refused-rescue hop in the middle
    "jq31": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_info
      WHERE ci_tid_i = t_id_i AND ci_pid = p_id AND mi_tid = t_id
        AND p_name LIKE 'Alpha, %'
    """,
    # pincer with mixed-key edges on the SAME dim: company reaches
    # title over the integer twin, keyword over the string edge
    "jq32": """
      SELECT MIN(kw_word) AS min_kw, COUNT(*) AS n
      FROM company, movie_company, title, movie_keyword, keyword
      WHERE mc_coid = co_id AND mc_tid_i = t_id_i
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND co_name LIKE 'Warner %'
        AND kw_word = 'based-on-novel'
    """,
    # IN-subquery mark behind a WEAK outer dim window: the mark arm is
    # selective, the 45-year window is not — 2g must kill only the
    # title op and keep the subquery's keyword cascade
    "jq33": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info
      WHERE mi_tid = t_id
        AND t_year BETWEEN 1960 AND 2005
        AND t_id IN (SELECT mk_tid FROM movie_keyword, keyword
                     WHERE mk_kwid = kw_id AND kw_word = 'sequel')
    """,
    # -- r10 additions (VERDICT r9 #6: 33 -> ~60, weighting the
    #    v3-native-favored jq3/jq25 class the cession arbitration
    #    serves, plus mixed-key chains and more mark/anti/skew shapes)
    # jq3-class fully-covered star: person prefix + country + year —
    # every candidate edge one-hop bloomable (cession-eligible breadth)
    "jq34": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_company, company
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND p_name LIKE 'Iota, %'
        AND co_country = '[de]'
        AND t_year BETWEEN 1985 AND 1995
    """,
    # jq25-class skew star: kind + country filters, movie_info arm
    # reachable only via title blooms (cession vs skew)
    "jq35": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info, movie_company, company
      WHERE mi_tid = t_id AND mc_tid = t_id AND mc_coid = co_id
        AND co_country = '[us]'
        AND t_kind IN ('kind_1', 'kind_6')
        AND mi_info LIKE 'rating:%'
    """,
    # jq5-class engaged keeper: exact keyword + person substring — the
    # castinfo arm is unreachable by native (title unfiltered)
    "jq36": """
      SELECT MIN(t_title) AS min_title, MIN(p_name) AS min_name,
             COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'based-on-novel'
        AND p_name LIKE '%Epsilon%'
    """,
    # strong keyword + weak country IN across three facts: gate 2g
    # kills the weak arm, cession must weigh the remainder
    "jq37": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, movie_company, company,
           castinfo
      WHERE mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND ci_tid = t_id
        AND kw_word = 'character-name-in-title'
        AND co_country IN ('[us]', '[de]', '[fr]')
    """,
    # ALL-INTEGER chain: every edge on the _i twins — the string-key
    # conditioning must refuse bitmap/rescue everywhere and the query
    # rides broadcast semis or native (boundary breadth)
    "jq38": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, movie_company, company
      WHERE mk_tid_i = t_id_i AND mc_tid_i = t_id_i
        AND mc_coid_i = co_id_i
        AND co_name LIKE 'Warner %'
        AND t_kind = 'kind_4'
    """,
    # alternating int/string 3-hop: company -(int)-> movie_company
    # -(string)-> title -(int)-> movie_keyword
    "jq39": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM company, movie_company, title, movie_keyword
      WHERE mc_coid_i = co_id_i AND mc_tid = t_id
        AND mk_tid_i = t_id_i
        AND co_name LIKE 'Universal %'
        AND t_year > 1990
    """,
    # mark subquery whose INNER side is the 100M-row fact: the mark
    # cascade itself needs person->castinfo transfer
    "jq40": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company
      WHERE mc_tid = t_id
        AND t_id IN (SELECT ci_tid FROM castinfo, person
                     WHERE ci_pid = p_id AND p_name = 'Alpha, Alpha')
    """,
    # anti arm via NOT EXISTS: titles with a cast but NO us-company
    # entry — the anti join is opaque to the graph, must stay correct
    "jq41": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND p_name LIKE 'Kappa, %'
        AND t_year BETWEEN 2000 AND 2005
        AND NOT EXISTS (SELECT 1 FROM movie_company, company
                        WHERE mc_tid = t_id AND mc_coid = co_id
                          AND co_country = '[us]')
    """,
    # two independent mark subqueries on one outer title
    "jq42": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title
      WHERE t_id IN (SELECT mk_tid FROM movie_keyword, keyword
                     WHERE mk_kwid = kw_id AND kw_word = 'sequel')
        AND t_id IN (SELECT mc_tid FROM movie_company, company
                     WHERE mc_coid = co_id AND co_name LIKE 'Warner %')
    """,
    # skewed fact + exact keyword pincer (hot movie_info keys must
    # survive the keyword reduction)
    "jq43": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info, movie_keyword, keyword
      WHERE mi_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'based-on-novel'
        AND mi_info LIKE 'runtime:%'
    """,
    # 4-relation chain selective at BOTH ends: person family + exact
    # keyword meet across castinfo/title/movie_keyword
    "jq44": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM person, castinfo, title, movie_keyword, keyword
      WHERE ci_pid = p_id AND ci_tid = t_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND p_name LIKE 'Sigma, %'
        AND kw_word = 'character-name-in-title'
    """,
    # LEFT-preserved title with a selective INNER person arm: the
    # outer keyword arm must never reduce title
    "jq45": """
      SELECT MIN(t_title) AS min_title, COUNT(kw_id) AS n_kw,
             COUNT(*) AS n
      FROM title
      JOIN castinfo ON ci_tid = t_id
      JOIN person ON ci_pid = p_id
      LEFT JOIN movie_keyword ON mk_tid = t_id
      LEFT JOIN keyword ON mk_kwid = kw_id AND kw_word = 'sequel'
      WHERE p_name LIKE 'Omicron, %' AND t_year > 2010
    """,
    # no-dim star: three facts, filters ONLY on title — native blooms
    # title into every fact; our mid-hops add nothing (cede-all class)
    "jq46": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, movie_keyword, movie_company
      WHERE ci_tid = t_id AND mk_tid = t_id AND mc_tid = t_id
        AND t_kind = 'kind_3' AND t_year BETWEEN 1998 AND 2002
    """,
    # weak country + skew + weak kind: everything 2g-killable, the
    # engine must disengage cleanly (tie, never lose)
    "jq47": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info, movie_company, company
      WHERE mi_tid = t_id AND mc_tid = t_id AND mc_coid = co_id
        AND co_country IN ('[us]', '[de]')
        AND t_year > 1960
    """,
    # fact-note equality drives everything (5% of movie_company), dims
    # unfiltered: reduction must flow fact -> title -> movie_keyword
    "jq48": """
      SELECT MIN(t_title) AS min_title, MIN(kw_word) AS min_kw,
             COUNT(*) AS n
      FROM title, movie_company, movie_keyword, keyword
      WHERE mc_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_note = '(as metro pictures)'
        AND t_kind = 'kind_8'
    """,
    # role IN + keyword prefix + year window: three medium filters
    "jq49": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, movie_keyword, keyword
      WHERE ci_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND ci_role IN ('role_1', 'role_5')
        AND kw_word LIKE 'beta-%'
        AND t_year BETWEEN 1970 AND 1990
    """,
    # empty company build: the zero-row cascade must short-circuit two
    # facts (jq24's shape through the company arm)
    "jq50": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company, movie_keyword
      WHERE mc_tid = t_id AND mc_coid = co_id AND mk_tid = t_id
        AND co_name LIKE 'Zzz No Such Company%'
    """,
    # the jq3 deep star with the castinfo edge on the INTEGER twin:
    # conditioning refuses that rescue, cession must price the rest
    "jq51": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword,
           movie_company, company
      WHERE ci_tid_i = t_id_i AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = 'sequel'
        AND co_country = '[de]'
        AND p_name LIKE 'Delta, %'
    """,
    # mark subquery joined on the INTEGER twins end to end
    "jq52": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company
      WHERE mc_tid_i = t_id_i
        AND t_id_i IN (SELECT mk_tid_i FROM movie_keyword, keyword
                       WHERE mk_kwid = kw_id
                         AND kw_word = 'based-on-novel')
        AND t_year < 1980
    """,
    # skew pincer with kind filter (jq20 variant): person arm +
    # movie_info hot keys share title
    "jq53": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_info
      WHERE ci_tid = t_id AND ci_pid = p_id AND mi_tid = t_id
        AND p_name LIKE 'Upsilon, %'
        AND t_kind IN ('kind_2', 'kind_9')
        AND mi_info LIKE 'rating:%'
    """,
    # jq1's class at a different note predicate: every relation
    # selectively filtered, off plan already minimal
    "jq54": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND mc_note = '(presents) (co-production)'
        AND co_country = '[fr]'
        AND t_year BETWEEN 1960 AND 1970
    """,
    # weak title window + strong keyword over the skewed fact and
    # movie_keyword: 2g kills the title op, keyword cascade rescues
    "jq55": """
      SELECT MIN(mi_info) AS min_info, COUNT(*) AS n
      FROM title, movie_info, movie_keyword, keyword
      WHERE mi_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'sequel'
        AND t_year BETWEEN 1955 AND 2015
    """,
    # every dim weak (country IN / kw '%a%' / role IN-5): full
    # disengage expected; any loss is pure overhead
    "jq56": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, movie_keyword, keyword, movie_company,
           company
      WHERE ci_tid = t_id AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND co_country IN ('[us]', '[de]', '[fr]')
        AND kw_word LIKE '%a%'
        AND ci_role IN ('role_0', 'role_2', 'role_4', 'role_6',
                        'role_8')
    """,
    # two strong prefix dims across three facts: the deep-winner class
    # (jq10's shape, different constants)
    "jq57": """
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_company, company,
           movie_keyword
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND mk_tid = t_id
        AND co_name LIKE 'Universal %'
        AND p_name LIKE 'Rho, %'
        AND t_year > 1975
    """,
}


def _canon(rows) -> list:
    out = []
    for r in rows:
        out.append(tuple(round(v, 6) if isinstance(v, float) else v
                         for v in r))
    return sorted(out)


def main() -> int:
    argv = sys.argv[1:]
    out_json, runs = None, 3
    i = 0
    while i < len(argv):
        if argv[i] == "--json":
            out_json = argv[i + 1]; i += 2
        elif argv[i] == "--runs":
            runs = int(argv[i + 1]); i += 2
        else:
            i += 1

    ensure_fixture()

    import duckdb

    from duckdb_robust_predicate_transfer_spark.config import RPTConfig
    from duckdb_robust_predicate_transfer_spark.engine import Engine
    from duckdb_robust_predicate_transfer_spark.session import get_spark
    from duckdb_robust_predicate_transfer_spark.workload.common import (
        count_native_blooms, native_counts, rotated_min, set_native_rf,
        timed_leg)

    spark = get_spark(app_name="drpt-job-regime",
                      shuffle_partitions=SHUFFLE)
    spark.sparkContext.setLogLevel("ERROR")

    # -- correctness first: Spark (rpt ON, forced engagement irrelevant —
    #    default gates) vs DuckDB on the same files, full scale ---------
    con = duckdb.connect()
    con.sql(f"SET threads={os.cpu_count()}")
    for t in ("title", "company", "keyword", "person", "castinfo",
              "movie_company", "movie_keyword", "movie_info"):
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{OUT_DIR}/{t}.parquet'")
    oracle_ok: dict = {}
    engaged: dict = {}
    ops_inv: dict = {}
    for name, sql in QUERIES.items():
        e = Engine(spark, OUT_DIR)
        df = e.sql(sql)
        got = _canon(tuple(r) for r in df.collect())
        engaged[name] = bool(e.last_sql_rewritten)
        lr = e.last_result
        ops_inv[name] = ([f"{op.phase[0]}:{op.build}->{op.probe}[{t}]"
                          for op, t in zip(lr.applied, lr.applied_tiers)]
                         if lr is not None else [])
        want = _canon(con.sql(sql).fetchall())
        oracle_ok[name] = (got == want)
        print(f"# oracle {name}: match={oracle_ok[name]} "
              f"engaged={engaged[name]} ops={ops_inv[name]} rows={got}",
              file=sys.stderr, flush=True)

    # -- timing: off / rpt / native / composed / dual, rotated min-of-N.
    #    "dual" = engine on WITH native injection live and suppression
    #    off — the no-suppression ablation: if dual ever beat composed
    #    on an engaged query, suppression would be costing a bloom the
    #    transfer doesn't cover.
    MODES = ("off", "rpt", "native", "composed", "dual")

    #: per-query cession verdict: "native" = disengaged and handed to
    #: the host's blooms, None = no cession (engaged or ordinary bail)
    composed_cede: dict = {}
    #: per query, off the composed leg: ops dropped at gate "native",
    #: and applied ops whose edge also carries a native bloom in the
    #: plan the statement ran (double-filtered edges)
    native_drops: dict = {}
    double_filtered: dict = {}

    def leg(name: str, mode: str) -> float:
        if mode in ("rpt", "composed"):
            cfg = RPTConfig()
        elif mode == "dual":
            cfg = RPTConfig(suppress_native_rf=False)
        else:
            cfg = RPTConfig(enabled=False)

        held: list = []

        def run() -> None:
            e = Engine(spark, OUT_DIR, cfg)
            df = e.sql(QUERIES[name], auto_rpt=cfg.enabled)
            df.collect()
            if mode == "composed":
                composed_cede[name] = "native" if e.last_cede else None
                held[:] = [e, df]

        t = timed_leg(spark, run,
                      native_rf=mode in ("native", "composed", "dual"))
        # counted off the timed leg; a bail-cache hit runs no gate stack
        # and leaves the first run's counts standing
        if held and (held[0].last_result is not None
                     or name not in native_drops):
            native_drops[name], double_filtered[name] = native_counts(*held)
        return t

    blooms = {}
    for name in QUERIES:
        set_native_rf(spark, True)
        try:
            blooms[name] = count_native_blooms(
                Engine(spark, OUT_DIR,
                       RPTConfig(enabled=False)).sql(QUERIES[name],
                                                     auto_rpt=False))
        except Exception:
            blooms[name] = None
        finally:
            set_native_rf(spark, False)

    leg(next(iter(QUERIES)), "off")  # untimed warmup
    best = rotated_min(
        runs, QUERIES, MODES, leg,
        lambda r_i, _: print(f"# run {r_i + 1}/{runs} done",
                             file=sys.stderr, flush=True))

    def geo(mode: str):
        vals = [best[q][mode] for q in QUERIES
                if math.isfinite(best[q][mode])]
        if not vals:
            return None
        return round(math.exp(sum(math.log(v) for v in vals) / len(vals)), 3)

    def _ratio(num, den):
        return round(num / den, 3) if num and den else None

    summary = {
        "suite": "job-regime",
        "fact_rows": FACT,
        "dims": {"title": NT, "company": NC, "keyword": NK, "person": NP},
        "runs": runs,
        "shuffle_partitions": SHUFFLE,
        "oracle_ok": oracle_ok,
        "rpt_engaged": engaged,
        "rpt_ops": ops_inv,
        "composed_cede": composed_cede,
        "composed_native_drops": native_drops,
        "composed_double_filtered": double_filtered,
        "native_blooms_injected": blooms,
        "geomean_sec": {m: geo(m) for m in MODES},
        "rpt_vs_off_geomean": _ratio(geo("off"), geo("rpt")),
        "rpt_vs_native_geomean": _ratio(geo("native"), geo("rpt")),
        "composed_vs_off_geomean": _ratio(geo("off"), geo("composed")),
        "composed_vs_native_geomean": _ratio(geo("native"),
                                             geo("composed")),
        "composed_vs_dual_geomean": _ratio(geo("dual"), geo("composed")),
        "per_query_sec": {q: {m: (None if best[q][m] is math.inf
                                  else round(best[q][m], 3))
                              for m in MODES} for q in QUERIES},
    }
    print(json.dumps(summary), flush=True)
    if out_json:
        with open(out_json, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()
    # engagement is GATE-DRIVEN by design: all-broadcast shapes (jq1,
    # jq4, jq8...) must disengage via gates 2d/2e — requiring all()
    # would fail exactly when the bounded-downside machinery works.
    # Require every oracle match plus genuine engagement somewhere.
    return 0 if (all(oracle_ok.values()) and any(engaged.values())) else 1


if __name__ == "__main__":
    sys.exit(main())
