"""The ``catalog`` workload: catalog queries in the driver-contract shape
(``clearCache``, build the DataFrame, ``noop`` write) over the fixed
seed-42 tables in ``data/``.

The timed loop runs a small panel: JVM-only rows (``q*``, ``etly_*``)
and Python-kernel rows (the vector kernel of ``dedup_embedding_cosine``,
``text_langid``). The heavy rows (``sim_ann_methods`` alone builds for
~25 s on four cores) do not fit a run's budget: they run only in the
traced run, once per traced cycle, after the panel.
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

from common import HERE, ROOT

DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "catalog_expected.json")

RELATIONAL = ["q1_pricing_summary", "etly_mod_routing", "etly_corrupt_tolerance"]
LLM_OPS = ["dedup_embedding_cosine", "text_langid"]
PANEL = RELATIONAL + LLM_OPS
# too slow for the timed loop; run once per traced cycle
HEAVY = ["sim_ann_methods", "text_top_terms", "dedup_exact", "q16_sessionize", "mm_decode_frames"]
# untimed passes after the fingerprint pass. The rows keep getting faster
# for ~10 passes (JIT); warming through all of them would cost more than
# the run budget has, so one pass takes the steepest part out and a long
# timed window with per-row medians covers the rest
WARM_PASSES = 1
PER_ROW = ["sim_ann_methods", "dedup_embedding_cosine", "text_top_terms", "dedup_exact", "q16_sessionize"]


def group_of(name: str) -> str:
    if name.startswith("q"):
        return "relational"
    return name.split("_", 1)[0]


def load_table_hash():
    """``table_hash`` of ``tools/check_correctness.py``, the fingerprint
    the repository's correctness gate compares."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    return cc.table_hash


def fingerprint(df, table_hash) -> tuple[int, str]:
    """(row count, fingerprint) of a query result."""
    pdf = df.toPandas()
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return len(rows), table_hash(list(pdf.columns), rows)


class Catalog:
    def __init__(self) -> None:
        from etly_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {q: [] for q in PANEL + HEAVY}
        self.phases: list[tuple[str, str, float, float]] = []  # (row, build|exec, start, end)
        with open(EXPECTED) as f:
            self.expected = json.load(f)

    def setup(self, spark, work: str, seed: int) -> None:
        """Warm-up: a first pass checks every panel row's row count and
        fingerprint against those recorded for these tables, then
        WARM_PASSES passes of the timed shape let JIT and Python workers
        settle."""
        table_hash = load_table_hash()
        for q in PANEL:
            self.attempted += 1
            try:
                spark.catalog.clearCache()
                got = fingerprint(self.registry[q].spark(spark, DATA), table_hash)
            except Exception as exc:  # a raising query is a counted failure
                print(f"# catalog warm {q} failed: {exc!r}"[:400])
                self.failed += 1
                continue
            if list(got) != self.expected[q]:
                print(f"# catalog warm {q}: got {got}, expected {self.expected[q]}")
                self.failed += 1
        for _ in range(WARM_PASSES):
            self.cycle(spark)

    def reset(self) -> None:
        for walls in self.walls.values():
            walls.clear()
        self.phases.clear()

    def patch(self, patches) -> None:
        """Nothing to wrap: the loop itself spans build and exec."""

    def run_row(self, spark, q: str) -> float:
        self.attempted += 1
        spark.catalog.clearCache()
        try:
            t0 = time.time()
            df = self.registry[q].spark(spark, DATA)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:
            print(f"# catalog {q} failed: {exc!r}"[:400])
            self.failed += 1
            return 0.0
        self.phases += [(q, "build", t0, t1), (q, "exec", t1, t2)]
        self.walls[q].append(t2 - t0)
        return t2 - t0

    def cycle(self, spark, extra: bool = False) -> float:
        """One pass of the panel (plus the heavy rows when ``extra``);
        returns the panel's wall."""
        wall = sum(self.run_row(spark, q) for q in PANEL)
        if extra:
            for q in HEAVY:
                self.run_row(spark, q)
        return wall

    def end_to_end(self) -> dict:
        # a row that failed on every pass has no sample; its failures are
        # already counted, so the result line still prints with failed > 0
        light = sum(median(self.walls[q]) for q in RELATIONAL if self.walls[q])
        heavy = sum(median(self.walls[q]) for q in LLM_OPS if self.walls[q])
        return {"wall_s": light + heavy, "light_s": light, "heavy_s": heavy}

    def notes(self) -> dict:
        return {
            "row_walls": {q: [round(w, 3) for w in self.walls[q]] for q in PANEL},
            "sf_dir": "data/sf0.001",
        }

    def layers(self, tracer, log, since: float, cycles: int) -> dict:
        """Per traced cycle: build/exec split per row, per family and in
        total, with the driver jobs each phase submitted."""
        out: dict[str, float] = {}
        phases = [p for p in self.phases if p[2] >= since]

        def add(key: str, val: float) -> None:
            out[key] = out.get(key, 0.0) + val / cycles

        for q, kind, a, b in phases:
            jobs = len(log.jobs_in([(a, b)]))
            add(f"queries.{kind}_s", b - a)
            add(f"queries.{kind}_jobs", jobs)
            add(f"queries.{group_of(q)}.{kind}_s", b - a)
            if q in PER_ROW:
                add(f"queries.{q}.{kind}_s", b - a)
                if kind == "build":
                    add(f"queries.{q}.build_jobs", jobs)
        return out
