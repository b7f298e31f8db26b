"""Expected violation counts, known without running the engine.

* Band arithmetic (FIXTURES.md F2) for the seeded corpus under the default
  token rule set: ``dirty_token_table`` corrupts row ``id`` according to
  ``id % 1000``, so each rule's count follows from the row count alone.
* DuckDB counts over the same parquet files for every append delta and for
  the tightened flood rule set, whose counts depend on the token values.

Every expectation maps ``(rule_id, error_code) -> count`` (zero counts
omitted) and carries the expected number of verdict rows.
"""

from __future__ import annotations

from fhir_data_validation_spark.rulesets import DOC_ID_PATTERN
from fhir_data_validation_spark.sources.synth import (MAX_N_TOK, SOURCES,
                                                      VOCAB_SIZE)

# error code each default rule emits (FIXTURES.md F2 table)
DEFAULT_CODES = {
    "REQ-001": "FIELD_REQUIRED", "REQ-002": "FIELD_REQUIRED",
    "LEN-001": "ARRAY_LENGTH_OUT_OF_RANGE",
    "INV-001": "ARRAY_LENGTH_VIOLATION", "RGX-001": "PATTERN_MISMATCH",
    "ALW-001": "INVALID_ENUM_VALUE", "DOM-001": "VALUE_NOT_ALLOWED",
    "FIX-001": "FIXED_VALUE_MISMATCH", "UNQ-001": "DUPLICATE_KEY",
    "REF-001": "REFERENCE_NOT_FOUND",
    "CRD-001": "RESOURCE_REQUIREMENT_VIOLATION",
}
DRIFT = ("DRF-001", "DISTRIBUTION_DRIFT")

# tightened rules of the flood probe: most rows violate, several times
FLOOD_MAX_LEN = 64
FLOOD_NARROW = VOCAB_SIZE - 250      # values >= this fire both DOM rules
FLOOD_WIDE = VOCAB_SIZE - 500
FLOOD_RULES = {"version": "1.0", "rules": [
    {"id": "FLD-LEN", "type": "ArrayLength", "column": "tokens",
     "params": {"max": FLOOD_MAX_LEN}},
    # same (error_code, column) as FLD-DOM-B, so the engine must dedupe:
    # an element >= FLOOD_NARROW is reported once, by the smaller rule id
    {"id": "FLD-DOM-A", "type": "TokenDomain", "column": "tokens",
     "params": {"min": 0, "maxExclusive": FLOOD_NARROW, "perElement": True}},
    {"id": "FLD-DOM-B", "type": "TokenDomain", "column": "tokens",
     "params": {"min": 0, "maxExclusive": FLOOD_WIDE, "perElement": True}},
]}


class Expectation:
    def __init__(self, counts: dict, verdict_rows: int):
        self.counts = {k: v for k, v in counts.items() if v}
        self.verdict_rows = verdict_rows

    def mismatches(self, counts: dict, verdict_rows: int) -> list[str]:
        """Human-readable differences; empty when the op is correct."""
        got = {k: v for k, v in counts.items() if v}
        out = [f"{k}: expected {self.counts.get(k, 0)}, got {got.get(k, 0)}"
               for k in sorted(set(got) | set(self.counts))
               if got.get(k, 0) != self.counts.get(k, 0)]
        if verdict_rows != self.verdict_rows:
            out.append(f"verdict rows: expected {self.verdict_rows}, "
                       f"got {verdict_rows}")
        return out


def _band(n_rows: int, lo: int, hi: int) -> int:
    """Rows ``id < n_rows`` with ``lo <= id % 1000 <= hi``."""
    full, rest = divmod(n_rows, 1000)
    return full * (hi - lo + 1) + max(0, min(rest, hi + 1) - lo)


def corpus_expectation(n_rows: int, drift_count: int) -> Expectation:
    """F2 band arithmetic for ``default_token_ruleset(with_drift=True)``.

    Drift depends on the sampled distribution, not on a band: the caller
    passes the warm-up op's count, which every timed op must repeat."""
    b = lambda lo, hi: _band(n_rows, lo, hi)  # noqa: E731
    counts = {
        "REQ-001": b(0, 9),                 # tokens = []
        "REQ-002": b(50, 51),               # source = NULL
        "LEN-001": b(0, 9) + b(20, 24),     # size 0 < min, size 8200 > max
        "INV-001": b(10, 19),               # n_tok = size + 1
        "RGX-001": b(35, 39),               # doc_id + '!'
        "ALW-001": b(45, 49),               # source = 'junk'
        "DOM-001": b(25, 34),               # one token >= vocab
        "FIX-001": 0,                       # scope makes it vacuous
        # one violation per duplicated key: rows 40-44 of each block copy
        # the doc_id of the block's row 0
        "UNQ-001": sum(1 for k in range(0, n_rows, 1000) if k + 40 < n_rows),
        "REF-001": b(45, 49),               # 'junk' not in sources_dim
        "CRD-001": int(b(45, 49) > 0),      # 'junk' is undeclared
    }
    keyed = {(r, DEFAULT_CODES[r]): n for r, n in counts.items()}
    keyed[DRIFT] = drift_count
    groups = len(SOURCES) + int(b(45, 49) > 0) + int(b(50, 51) > 0)
    rules = len(DEFAULT_CODES) + 1
    # one row per (group, rule) plus one run-level row per rule with
    # dataset-level violations (CRD-001, DRF-001)
    return Expectation(keyed, groups * rules + int(counts["CRD-001"] > 0)
                       + int(drift_count > 0))


def _files_sql(files: list[str]) -> str:
    paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{paths}])"


def _duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def delta_expectation(files: list[str]) -> Expectation:
    """DuckDB counts of ``default_token_ruleset()`` over one append delta."""
    src = ", ".join(f"'{s}'" for s in SOURCES)
    con = _duck()
    try:
        con.execute(f"CREATE TEMP VIEW t AS SELECT * FROM {_files_sql(files)}")
        row = con.execute(f"""
            SELECT
              count(*) FILTER (WHERE tokens IS NULL OR len(tokens) = 0),
              count(*) FILTER (WHERE source IS NULL),
              count(*) FILTER (WHERE len(tokens) < 1
                                  OR len(tokens) > {MAX_N_TOK}),
              count(*) FILTER (WHERE len(tokens) <> n_tok),
              count(*) FILTER (WHERE NOT regexp_full_match(
                                   doc_id, '{DOC_ID_PATTERN}')),
              count(*) FILTER (WHERE source NOT IN ({src})),
              count(*) FILTER (WHERE len(list_filter(
                  tokens, x -> x < 0 OR x >= {VOCAB_SIZE})) > 0),
              count(*) FILTER (WHERE source = 'wiki' AND n_tok < 16
                                 AND source <> 'wiki'),
              (SELECT count(*) FROM (SELECT doc_id FROM t GROUP BY doc_id
                                     HAVING count(*) > 1)),
              count(DISTINCT source) FILTER (WHERE source NOT IN ({src})),
              count(DISTINCT coalesce(source, '<null>'))
            FROM t""").fetchone()
        present = {r[0] for r in con.execute(
            "SELECT DISTINCT source FROM t WHERE source IS NOT NULL"
        ).fetchall()}
    finally:
        con.close()
    (req1, req2, len1, inv1, rgx1, alw1, dom1, fix1, unq1, undeclared,
     groups) = row
    crd = undeclared + sum(1 for s in SOURCES if s not in present)
    counts = {"REQ-001": req1, "REQ-002": req2, "LEN-001": len1,
              "INV-001": inv1, "RGX-001": rgx1, "ALW-001": alw1,
              "DOM-001": dom1, "FIX-001": fix1, "UNQ-001": unq1,
              "REF-001": alw1, "CRD-001": crd}
    keyed = {(r, DEFAULT_CODES[r]): n for r, n in counts.items()}
    return Expectation(keyed, groups * len(DEFAULT_CODES) + int(crd > 0))


def flood_expectation(files: list[str]) -> Expectation:
    """DuckDB counts of :data:`FLOOD_RULES` after the engine's A5 dedupe.

    Violations at one location collapse to one, reported by the smaller
    rule id. A per-element location is (doc_id, source, index, value); an
    ArrayLength violation carries no value, so its location is (doc_id,
    source). Rows that share a doc_id (F2 band 40-44) can therefore
    collapse with each other."""
    con = _duck()
    try:
        con.execute(f"CREATE TEMP VIEW t AS SELECT * FROM {_files_sql(files)}")
        long_rows, groups = con.execute(f"""
            SELECT (SELECT count(*) FROM (
                      SELECT DISTINCT doc_id, source FROM t
                      WHERE len(tokens) > {FLOOD_MAX_LEN})),
                   (SELECT count(DISTINCT coalesce(source, '<null>'))
                    FROM t)
        """).fetchone()
        narrow, wide = con.execute(f"""
            SELECT count(*) FILTER (WHERE v >= {FLOOD_NARROW}),
                   count(*) FILTER (WHERE v < {FLOOD_NARROW})
            FROM (SELECT DISTINCT doc_id, source, i, v FROM (
                    SELECT doc_id, source, unnest(range(len(tokens))) AS i,
                           unnest(tokens) AS v FROM t)
                  WHERE v >= {FLOOD_WIDE} OR v < 0)
        """).fetchone()
    finally:
        con.close()
    counts = {("FLD-LEN", "ARRAY_LENGTH_OUT_OF_RANGE"): long_rows,
              ("FLD-DOM-A", "VALUE_NOT_ALLOWED"): narrow,
              ("FLD-DOM-B", "VALUE_NOT_ALLOWED"): wide}
    return Expectation(counts, groups * len(FLOOD_RULES["rules"]))
