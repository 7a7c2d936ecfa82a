"""curation: the training-data query set over a fixed corpus.

Each operation is one pass of the dedup / near-dup / quality queries from
``crawlers_spark.queries.QUERIES`` over ``data/documents.parquet`` and
``data/embeddings.parquet`` (500 rows each, the sf0.01 tables of the
repository's test data). Only ``operators.dedup``, ``operators.similarity``,
``sources.tables`` and ``queries`` run here; none of the crawl layers do.
The input is fixed, so the seed does not change it.

Every pass is checked: the three queries with a DuckDB oracle must match
it row for row, the others must repeat the digest of the warm-up pass.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.parquet as pq

from crawlers_spark.queries import QUERIES
from crawlers_spark.sources.tables import load_table

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
QUERY_SET = ["dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
             "dedup_simhash", "embedding_near_dups", "doc_quality"]
READS_EMBEDDINGS = {"embedding_near_dups"}


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)  # bit-exact, type-sensitive
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(cols: list[str], rows) -> list[str]:
    """Order-insensitive, column-order-insensitive row encoding."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)


class Curation:
    name = "curation"
    items = "input rows read"
    summary_names = {"op_p50_s": "curation_wall_s", "items_per_s": "curation_rows_per_s"}
    # ~90 % of a pass's CPU is the driver JVM planning and compiling
    # queries; its JIT cuts a pass's CPU from ~25 s to ~17 s between the
    # third and fourth pass of a fresh JVM, so the timed pass is the fourth
    warm_up_ops = 3

    def __init__(self, seed: int, spans, smoke: bool = False):
        self.spans = spans
        # (timed?, canonical rows per query) for every pass run
        self.results: list[tuple[bool, dict[str, list[str]]]] = []
        n_docs = pq.ParquetFile(os.path.join(DATA_DIR, "documents.parquet")).metadata.num_rows
        n_emb = pq.ParquetFile(os.path.join(DATA_DIR, "embeddings.parquet")).metadata.num_rows
        self.rows_per_pass = sum(n_emb if q in READS_EMBEDDINGS else n_docs for q in QUERY_SET)

    def build_state(self, spark):
        """Scan both input tables once (schema + row counts)."""
        for table in ("documents", "embeddings"):
            load_table(spark, DATA_DIR, table).count()

    def _pass(self, spark) -> dict[str, list[str]]:
        out = {}
        for name in QUERY_SET:
            # queries may persist intermediates: each pass computes in full
            spark.catalog.clearCache()
            with self.spans.span(f"queries.{name}"):
                df = QUERIES[name][0](spark, DATA_DIR)
                rows = df.collect()
            out[name] = canon_rows(df.columns, rows)
        return out

    def warm_up(self, spark, _state) -> None:
        self.results.append((False, self._pass(spark)))

    def op(self, spark, _state) -> int:
        """One pass of the query set; returns the input rows it read."""
        self.results.append((True, self._pass(spark)))
        return self.rows_per_pass

    def after_op(self, _spark) -> None:
        """Nothing to keep: a pass collects its own rows."""

    def check(self) -> tuple[list[str], int]:
        """(problems, timed passes whose output was wrong)."""
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                path = os.path.join(DATA_DIR, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            want = {}
            for name in QUERY_SET:
                sql = QUERIES[name][1]
                if sql is not None:
                    cur = con.execute(sql)
                    want[name] = canon_rows([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        first = self.results[0][1]
        problems, failed = [], 0
        for i, (timed, rows) in enumerate(self.results):
            bad = [n for n in QUERY_SET if not rows[n] or rows[n] != want.get(n, first[n])]
            problems += [f"pass {i}: {n} differs from its "
                         f"{'DuckDB oracle' if n in want else 'first-pass digest'}"
                         for n in bad]
            failed += bool(bad) and timed
        return problems, failed

    def layer_report(self, digests: list[dict]) -> dict:
        """Per-query wall (traced passes) and shuffle volume per pass."""
        out = {}
        for name in QUERY_SET:
            d = self.spans.durations(f"queries.{name}")[-len(digests):] if digests else []
            out[f"curation.{name}_s"] = sum(d) / max(len(d), 1)
        out["curation.shuffle_write_mb"] = (
            sum(x["shuffle_write_mb"] for x in digests) / max(len(digests), 1)
        )
        return out
