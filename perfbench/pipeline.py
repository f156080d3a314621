"""The LLM-data pipeline stages: public functions of the ``operators``
package over a seeded ``documents`` table.

Runs inside the server process (the operators take DataFrames, so they
are reachable only through the Python API); the load generator asks for
one stage at a time over the control channel. Each stage builds its
outputs with the same parameters as the matching ``inventory`` entry,
so that entry's DuckDB oracle (``inventory.oracle_sql()``) checks it.
A stage op builds its DataFrames and evaluates every output in full by
collecting it (the outputs are a few hundred rows at most); after the
run, every collected output is compared with its oracle over the same
parquet file.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snowflake_emulator_spark.operators import dedup, textstats


def outputs(stage: str, docs: DataFrame) -> list[tuple[str, DataFrame]]:
    """The outputs of one stage of ``workloads.PIPELINE_STAGES``, each
    named after the inventory entry whose oracle checks it."""
    if stage == "dedup.exact":
        return [("dedup_exact", dedup.exact_dedup_keys(docs).filter(F.col("n_dups") > 1))]
    if stage == "dedup.minhash_lsh":
        return [("dedup_minhash_lsh", dedup.minhash_lsh_pairs(docs, num_perm=16, bands=4,
                                                              shingle=5))]
    if stage == "textstats.quality":
        quality = docs.select("doc_id", F.round(textstats.quality_score(F.col("text")), 6)
                              .alias("quality"))
        langid = (docs.select("lang", textstats.language_guess(F.col("text")).alias("predicted"))
                  .groupBy("lang", "predicted").agg(F.count("*").cast("bigint").alias("n")))
        return [("text_quality_score", quality), ("text_language_id", langid),
                ("text_dsir_weights", textstats.dsir_importance_weights(docs, "source = 'src0'"))]
    raise ValueError(stage)


class Pipeline:
    """Server-side state of the pipeline author: the input DataFrame and
    the rows each op collected."""

    def __init__(self, spark, data_dir: str):
        self.path = os.path.join(data_dir, "documents.parquet")
        self.docs = spark.read.parquet(self.path).cache()
        self.collected: list[tuple[str, list[tuple]]] = []

    def run(self, stage: str) -> dict:
        outs = [(name, df.collect()) for name, df in outputs(stage, self.docs)]
        self.collected.extend((name, [tuple(r) for r in rows]) for name, rows in outs)
        return {"stage": stage, "rows": sum(len(rows) for _n, rows in outs)}

    def check(self) -> dict:
        """Compare every collected output with its DuckDB oracle."""
        import duckdb

        from snowflake_emulator_spark import inventory

        oracles = inventory.oracle_sql()
        duck = duckdb.connect()
        duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
        want: dict[str, list[tuple]] = {}
        bad = []
        for name, got in self.collected:
            if name not in want:
                want[name] = [tuple(_norm(v) for v in r)
                              for r in duck.sql(oracles[name]).fetchall()]
            if not rows_match([tuple(_norm(v) for v in r) for r in got], want[name]):
                bad.append(name)
        duck.close()
        return {"checks": len(self.collected), "bad": bad}


# -- verification -------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "item"):  # numpy scalars from DuckDB
        return _norm(v.item())
    return v


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True
