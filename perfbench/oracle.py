"""Independent answers the benchmark checks the program against.

``DuckBm25`` recomputes BM25 top-k with DuckDB SQL straight from raw
(doc_id, text) rows, tokenizing the way the ``content_patterns`` chain
does (whitespace split, lowercase). The formula and the result contract
(4dp-rounded score descending, then doc id) are the pinned ones in
``query/bm25.py``; the SQL follows ``tools/rank_identity_bench.py``.

``code_chain_totals`` / ``python_bm25`` recount the code-aware
``content`` chain from the analyzer functions themselves, for the build
workload's checks.
"""

from __future__ import annotations

import math
from collections import Counter

K1, B = 1.2, 0.75
MAX_CLAUSE_COUNT = 1024  # query/executor.py: expansion rewrite cap


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _in(terms) -> str:
    return "(" + ", ".join(_lit(t) for t in terms) + ")"


def glob_regex(pattern: str) -> str:
    """``functions.text.glob_to_regex`` restated for DuckDB's RE2."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif not ch.isalnum() and ch != "_":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


class DuckBm25:
    def __init__(self, doc_ids: list[int], texts: list[str]):
        import duckdb
        import pyarrow as pa

        self.con = duckdb.connect()
        corpus = pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                           "text": pa.array(texts, pa.string())})
        self.con.register("corpus_src", corpus)
        self.con.sql(r"""
CREATE TABLE tok AS
  SELECT doc_id, unnest(lf) AS term, generate_subscripts(lf, 1) - 1 AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS lf
        FROM corpus_src)
""")
        self.con.sql("""
CREATE TABLE dl AS
  SELECT c.doc_id, count(t.term) AS dl
  FROM corpus_src c LEFT JOIN tok t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id
""")
        self.con.sql("CREATE TABLE stats AS SELECT count(*) AS n, avg(dl) AS avgdl FROM dl")
        self.con.sql("CREATE TABLE post AS SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2")
        self.con.sql("CREATE TABLE dfreq AS SELECT term, count(*) AS df FROM post GROUP BY 1")

    def close(self) -> None:
        self.con.close()

    def topk(self, terms: list[str], mode: str = "or", exclude: list[str] | None = None,
             k: int = 10) -> list[tuple[int, float]]:
        terms = sorted(set(terms))
        if not terms:
            return []
        having = f"HAVING count(*) = {len(terms)}" if mode == "and" else ""
        where_not = (
            f"WHERE doc_id NOT IN (SELECT doc_id FROM post WHERE term IN {_in(exclude)})"
            if exclude else ""
        )
        rows = self.con.sql(f"""
WITH scored AS (
  SELECT p.doc_id,
         sum( ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
              * p.tf * ({K1} + 1)
              / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) ) AS score
  FROM post p
  JOIN dfreq f USING (term)
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
  WHERE p.term IN {_in(terms)}
  GROUP BY p.doc_id
  {having}
)
SELECT doc_id, round(score, 4) AS score FROM scored {where_not}
ORDER BY round(score, 4) DESC, doc_id LIMIT {k}
""").fetchall()
        return [(int(d), float(s)) for d, s in rows]

    def phrase(self, a: str, b: str, k: int = 10) -> list[tuple[int, float]]:
        """Adjacent two-term phrase: phrase tf per doc, phrase df, BM25
        over the phrase as one pseudo-term (the q5 oracle's shape)."""
        rows = self.con.sql(f"""
WITH starts AS (
  SELECT x.doc_id, count(*) AS phrase_tf
  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
  WHERE x.term = {_lit(a)} AND y.term = {_lit(b)}
  GROUP BY x.doc_id
),
pdf AS (SELECT greatest(count(*), 1) AS df FROM starts),
scored AS (
  SELECT st.doc_id,
         ln(1 + (s.n - pdf.df + 0.5) / (pdf.df + 0.5))
           * st.phrase_tf * ({K1} + 1)
           / (st.phrase_tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS score
  FROM starts st JOIN dl d ON st.doc_id = d.doc_id CROSS JOIN stats s CROSS JOIN pdf
)
SELECT doc_id, round(score, 4) AS score FROM scored
ORDER BY round(score, 4) DESC, doc_id LIMIT {k}
""").fetchall()
        return [(int(d), float(s)) for d, s in rows]

    def expand(self, kind: str, pattern: str, max_edits: int = 2) -> list[str]:
        """Dictionary terms matching the same predicate as
        query/expansion.py, in term order, capped like the rewrite."""
        if kind == "wildcard":
            pred = f"regexp_full_match(term, {_lit(glob_regex(pattern))})"
        elif kind == "fuzzy":
            n = len(pattern)
            pred = (f"length(term) BETWEEN {n - max_edits} AND {n + max_edits} "
                    f"AND levenshtein(term, {_lit(pattern)}) <= {max_edits}")
        else:
            raise ValueError(kind)
        rows = self.con.sql(
            f"SELECT term FROM dfreq WHERE {pred} ORDER BY term LIMIT {MAX_CLAUSE_COUNT}"
        ).fetchall()
        return [r[0] for r in rows]


def code_chain_totals(texts: list[str]) -> tuple[int, int, list[Counter]]:
    """(n_docs, total tokens, per-doc term counts) of the ``content``
    chain, counted with ``analysis.chains.analyze_positions``."""
    from coa_codesearch_mcp_spark.analysis.chains import FIELD_CONTENT, analyze_positions

    per_doc = [Counter(t for t, _ in analyze_positions(FIELD_CONTENT, text)) for text in texts]
    return len(texts), sum(sum(c.values()) for c in per_doc), per_doc


def python_bm25(per_doc: list[Counter], doc_ids: list[int], terms: list[str],
                mode: str = "or", k: int = 10) -> list[tuple[int, float]]:
    """BM25 top-k over per-doc term counts, same formula and order."""
    terms = sorted(set(terms))
    n = len(per_doc)
    dls = [sum(c.values()) for c in per_doc]
    avgdl = sum(dls) / n
    df = {t: sum(1 for c in per_doc if t in c) for t in terms}
    scored = []
    for did, c, dl in zip(doc_ids, per_doc, dls):
        hit = [t for t in terms if t in c]
        if not hit or (mode == "and" and len(hit) < len(terms)):
            continue
        s = 0.0
        for t in hit:
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            tf = c[t]
            s += idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        scored.append((did, round(s, 4)))
    scored.sort(key=lambda r: (-r[1], r[0]))
    return scored[:k]
