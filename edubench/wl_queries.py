"""``query_mix``: ad-hoc analytics over seeded TPC-H-shaped tables.

Each timed unit is one pass, in fixed order, over 13 workload queries,
each run to completion through the noop sink. The pass never touches
the runner, the incremental merge or slim CI; it spends its time in
the operators, functions and Catalyst.
"""

from __future__ import annotations

import hashlib
import os
import time

import pandas as pd

import datagen
from harness import Harness, log

QUERY_NAMES = [
    "q01_pricing_summary", "q03_top_revenue_orders", "q08_stats",
    "q10_topk_per_nation", "q12_first_order", "q16_supplier_pairs",
    "q17_late_shipments", "q24_recursive_hierarchy", "q26_exact_dedup",
    "q27_text_stats", "q29_cosine_topk", "q30_sessionize",
    "q32_minhash_near_dups",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings", "events"]
SF = 0.01
TOY_SF = 0.001


def result_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """Row count and order-insensitive checksum of a query result:
    columns sorted by name, floats rounded, rows sorted as strings."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
    rows = sorted("\x1f".join(map(str, r)) for r in pdf.astype(str).itertuples(index=False))
    h = hashlib.sha256("\x1e".join([",".join(pdf.columns)] + rows).encode())
    return len(rows), h.hexdigest()


def minhash_oracle(data_dir: str) -> pd.DataFrame:
    """Exact char-5-shingle Jaccard >= 0.7 over all document pairs: the
    q32 DuckDB oracle's definition, evaluated in Python (the SQL form is
    quadratic in list operations and takes tens of seconds)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pylist()
    sh = []
    for d in docs:
        t = d["text"].lower()
        s = {t[i:i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else {t}
        sh.append((d["doc_id"], s))
    rows = []
    for i, (ia, a) in enumerate(sh):
        for ib, b in sh[i + 1:]:
            small, big = sorted((len(a), len(b)))
            if small < 0.7 * big:
                continue
            inter = len(a & b)
            j = inter / (len(a) + len(b) - inter)
            if j >= 0.7:
                rows.append((min(ia, ib), max(ia, ib), j))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


class QueryMix:
    name = "query_mix"
    setup_reps = 3
    unit_metric = "query_pass_s"

    def __init__(self, h: Harness, toy: bool) -> None:
        from dbt_incremental_ci_spark import workload

        self.h = h
        self.workload = workload
        self.sf = TOY_SF if toy else SF
        self.data_dir = os.path.join(h.run_dir, "tpch")
        self.query_names = QUERY_NAMES
        self.expected: dict[str, tuple[int, str]] = {}
        self.per_query: dict[str, list[float]] = {}

    def setup_data(self) -> None:
        datagen.generate(self.data_dir, self.sf, self.h.seed)

    def prepare(self) -> None:
        pass

    def _oracles(self) -> None:
        """Expected results, from the queries' DuckDB oracles."""
        import duckdb

        con = duckdb.connect(config={"temp_directory": os.path.join(self.h.run_dir, "tmp")})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, t)}.parquet'")
        for name in QUERY_NAMES:
            if name == "q32_minhash_near_dups":
                pdf = minhash_oracle(self.data_dir)
            else:
                pdf = con.execute(self.workload.ORACLES[name]).df()
            self.expected[name] = result_digest(pdf)
        con.close()

    def warmup(self) -> None:
        """The warm-up pass collects every result and checks it against
        the oracle."""
        self._oracles()
        for name in QUERY_NAMES:
            try:
                got = result_digest(self.workload.QUERIES[name](self.h.spark, self.data_dir).toPandas())
            except Exception as e:  # noqa: BLE001 — counted as a failure
                got = (-1, repr(e))
            self.h.attempt(got == self.expected[name],
                           f"{name}: got {got} expected {self.expected[name]}")

    def unit(self) -> float:
        tracer = self.h.tracer
        t0 = time.perf_counter()
        for name in QUERY_NAMES:
            tq = time.perf_counter()
            error = None
            with tracer.span(f"query.{name}"):
                try:
                    df = self.workload.QUERIES[name](self.h.spark, self.data_dir)
                    with tracer.span("workload.exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 — counted as a failure
                    error = e
            self.per_query.setdefault(name, []).append(time.perf_counter() - tq)
            self.h.attempt(error is None, f"{name}: raised {error!r}")
        return time.perf_counter() - t0

    def check(self) -> None:
        """Outputs were checked on the warm-up pass; report per-query times."""
        log(f"[{self.name}] per query (s): " + " ".join(
            f"{n[:3]}={' '.join(f'{t:.2f}' for t in ts)}" for n, ts in self.per_query.items()))
