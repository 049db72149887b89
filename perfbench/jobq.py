"""JOB-shaped statement templates for the ``job_adhoc`` workload.

Five shapes taken from the JOB-regime certification set (MIN
aggregates over 2-6 string-key equi-joins with LIKE / IN / BETWEEN
dimension filters, two or three facts sharing ``title``). At the
benchmark's 600k-row fact, three of them engage the transfer (jq5,
jq10 and the empty-build cascade jq24). The other two bail, because
their second-largest relation stays under the engine's 400k-row
all-broadcast bail: a single-fact shape on string keys (jq1) and one
that reaches title only over the integer twin key (jq27). Cession to
Spark's native blooms needs scans past the native rule's 10 GB gate, so
no shape cedes at this size.

Every literal is a slot drawn from the seeded generator, from pools
whose members have the same selectivity by construction (see
``fixtures._gen_job``), so each drawn text is new to the engine's
statement caches while the work it implies stays comparable.
"""

from __future__ import annotations

import random

from fixtures import WORDS

#: literal pools; members of one pool match the same share of rows
CAPS = [w.capitalize() for w in WORDS]
COUNTRIES = ["[de]", "[fr]"]
STUDIOS = ["Warner", "Universal"]
RARE_KEYWORDS = ["sequel", "based-on-novel"]

#: name -> (template, literal slots it draws)
TEMPLATES: dict = {
    # 2 edges: LIKE-selective fact note + country dim + year window
    "jq1": ("""
      SELECT MIN(t_title) AS min_title, MIN(t_year) AS min_year,
             COUNT(*) AS n
      FROM title, movie_company, company
      WHERE mc_tid = t_id AND mc_coid = co_id
        AND co_country = '{country}'
        AND mc_note LIKE '%(presents)%'
        AND t_year BETWEEN {y0} AND {y1}""", ("country", "y6")),
    # two facts on title: exact keyword + person prefix
    "jq5": ("""
      SELECT MIN(t_title) AS min_title, MIN(p_name) AS min_name,
             COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND kw_word = 'character-name-in-title'
        AND p_name LIKE '{cap}%'
        AND t_year >= {ylo}""", ("cap", "ylo")),
    # maximal star, every dim selective: three facts + three dims
    # around title (6 edges)
    "jq10": ("""
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, castinfo, person, movie_keyword, keyword,
           movie_company, company
      WHERE ci_tid = t_id AND ci_pid = p_id
        AND mk_tid = t_id AND mk_kwid = kw_id
        AND mc_tid = t_id AND mc_coid = co_id
        AND kw_word = '{kw}'
        AND co_name LIKE '%{studio}%'
        AND p_name LIKE '{cap}%'
        AND t_kind IN ('kind_{k0}', 'kind_{k1}')""",
             ("kw", "studio", "cap", "kinds")),
    # empty build cascade: a keyword that matches nothing
    "jq24": ("""
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword, castinfo
      WHERE mk_tid = t_id AND mk_kwid = kw_id AND ci_tid = t_id
        AND kw_word = 'zzz-no-such-keyword-{nonce}'""", ("nonce",)),
    # integer mid-hop: keyword reaches title only over the integer twin
    "jq27": ("""
      SELECT MIN(t_title) AS min_title, COUNT(*) AS n
      FROM title, movie_keyword, keyword
      WHERE mk_tid_i = t_id_i AND mk_kwid = kw_id
        AND kw_word = '{kw}'
        AND t_year >= {ylo}""", ("kw", "ylo")),
}


def _draw(slot: str, rng: random.Random, out: dict) -> None:
    if slot == "country":
        out["country"] = rng.choice(COUNTRIES)
    elif slot == "studio":
        out["studio"] = rng.choice(STUDIOS)
    elif slot == "kw":
        out["kw"] = rng.choice(RARE_KEYWORDS)
    elif slot == "cap":
        out["cap"] = rng.choice(CAPS)
    elif slot == "y6":
        out["y0"] = rng.randint(1950, 2014)
        out["y1"] = out["y0"] + 5
    elif slot == "ylo":  # passes every title
        out["ylo"] = rng.randint(1900, 1950)
    elif slot == "kinds":
        out["k0"], out["k1"] = rng.sample(range(10), 2)
    elif slot == "nonce":
        out["nonce"] = rng.randint(0, 10**9)
    else:
        raise KeyError(slot)


class StatementSource:
    """Draws JOB statements from the seed, never repeating a text within
    one process, so every statement misses the engine's caches."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seen: set = set()

    def draw(self, name: str) -> str:
        template, slots = TEMPLATES[name]
        for _ in range(1000):
            lits: dict = {}
            for slot in slots:
                _draw(slot, self.rng, lits)
            text = template.format(**lits)
            if text not in self.seen:
                self.seen.add(text)
                return text
        raise RuntimeError(f"{name}: literal space exhausted")

    def one_pass(self) -> list:
        """One statement per template, in a fixed order."""
        return [(n, self.draw(n)) for n in TEMPLATES]
