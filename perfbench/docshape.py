"""Shape of a documents corpus (doc_id, text), measured in DuckDB with the
repository's own oracle SQL. It compares the benchmark's generated corpus
with the ``documents.parquet`` fixture it stands in for.

    python3 perfbench/docshape.py path/to/documents.parquet [...]

Prints one row per parquet file given, then one for the generated corpus.
Run it from the root of a checkout.
"""

from __future__ import annotations

import os
import sys

NEAR_TAU = 0.8  # the Jaccard threshold corpus_scan's minhash_lsh_pairs uses
SPAN_L = 8  # the span length corpus_scan's dup_span_stats uses

FIELDS = ("docs", "tok_min", "tok_p25", "tok_p50", "tok_p75", "tok_max", "vocab",
          "exact_dup_frac", "near_pairs_per_doc", "dup_span_frac")


def docs_shape(con, rel: str) -> dict:
    """Doc count, token-count quantiles, vocabulary size, the share of docs
    that copy an earlier doc byte for byte (``exact_dup_groups_sql``), the
    pairs with trigram Jaccard in [NEAR_TAU, 1) per doc
    (``ngram_jaccard_pairs_sql``) and the mean share of tokens covered by a
    repeated SPAN_L-gram (``dup_span_stats_sql``)."""
    from countrymaam_spark.functions import text as T
    from countrymaam_spark.operators import dedup as DD

    def one(sql: str):
        return con.execute(sql).fetchone()

    toks = T.tokens_sql("text")
    n, *q = one(f"SELECT COUNT(*), MIN(n), quantile_disc(n, 0.25), quantile_disc(n, 0.5), "
                f"quantile_disc(n, 0.75), MAX(n) FROM (SELECT len({toks}) AS n FROM {rel})")
    vocab = one(f"SELECT COUNT(DISTINCT t) FROM (SELECT unnest({toks}) AS t FROM {rel})")[0]
    exact = one(f"SELECT COUNT(*) FROM ({DD.exact_dup_groups_sql(rel)}) "
                "WHERE doc_id <> canonical_id")[0]
    near = one(f"SELECT COUNT(*) FROM "
               f"({DD.ngram_jaccard_pairs_sql(rel, tau=NEAR_TAU, max_shingle_freq=None)}) "
               "WHERE jac < 1")[0]
    span = one(f"SELECT AVG(dup_frac) FROM ({DD.dup_span_stats_sql(rel, L=SPAN_L)})")[0]
    return dict(zip(FIELDS, [n, *q, vocab, exact / n, near / n, float(span)]))


def main(argv: list[str]) -> int:
    import duckdb

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.getcwd()]
    from harness import gen_documents

    con = duckdb.connect()
    rows = []
    for path in argv:
        rows.append((path, docs_shape(con, f"read_parquet('{path}')")))
    con.register("generated", gen_documents())
    rows.append(("generated", docs_shape(con, "generated")))
    con.close()
    print("corpus".ljust(24) + "".join(f.rjust(19) for f in FIELDS))
    for name, s in rows:
        print(name[-24:].ljust(24) + "".join(
            f"{s[f]:19.4f}" if isinstance(s[f], float) else f"{s[f]:19d}" for f in FIELDS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
