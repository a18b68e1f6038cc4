"""The ``transfer_incremental`` workload: ``Service.run_due`` polls
against a ledger history of thousands of files.

Every cycle starts from the same ledger state: a compacted sidecar
segment plus exactly ``COMPACT_THRESHOLD`` loose per-run partitions,
restored from a snapshot taken at set-up (untimed). A cycle is
EMPTY_POLLS empty polls, each of which scans that whole sidecar, finds
nothing and rewrites only the JSON ledger's status (the same each
time), then a poll that lands two new files; its ledger append makes
the loose count cross the threshold, so every landing poll also
compacts. Every timed poll of a kind thus does the same ledger work
however many cycles fit in a run. The empty poll is the cheaper one,
so a cycle samples it more often.
"""

from __future__ import annotations

import gzip
import os
import shutil
import time
from datetime import datetime, timedelta, timezone
from statistics import median

import gen
from common import tail

SCHEMA = "perfbench.Event"
FILTER = "perfbench.DropBots"
TRANSFORMER = "perfbench.EventToKV"
# the first cycle starts the Python workers and is ~3x a steady one; the
# second is within ~20%, one sample among the run's, so only the first
# is set-up
WARM_CYCLES = 1
EMPTY_POLLS = 2
HISTORY_START = datetime(2025, 11, 1, tzinfo=timezone.utc)


def register() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etly_spark import registry

    if SCHEMA in registry.schemas:
        return
    registry.schemas.register(
        SCHEMA,
        StructType(
            [StructField("Id", LongType()), StructField("Type", StringType()), StructField("User", LongType())]
        ),
    )
    registry.filters.register(FILTER, lambda df: F.col("Type") != gen.DROPPED_TYPE)
    registry.transformers.register(
        TRANSFORMER,
        lambda df: [
            F.col("Id").alias("Key"),
            F.concat_ws("/", F.col("Type"), F.col("User").cast("string")).alias("Value"),
        ],
    )


def gz_lines(paths: list[str]) -> int:
    n = 0
    for p in paths:
        with gzip.open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def _local(url: str) -> str:
    return url[len("file://") :] if url.startswith("file://") else url


def tree_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


class Incremental:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.heavy: list[float] = []  # landing polls, each compacting the sidecar
        self.light: list[float] = []  # empty polls
        self.out_bytes = self.in_bytes = self.outputs = 0

    def setup(self, spark, work: str, seed: int) -> None:
        from etly_spark import pipeline
        from etly_spark.config import Resource, Source, Target, Transfer
        from etly_spark.meta import Meta, ObjectMeta, sidecar_dir
        from etly_spark.service import Service

        register()
        self.seed = seed
        self.src = os.path.join(work, "in")
        self.live = os.path.join(self.src, "live")
        self.out_dir = os.path.join(work, "out")
        self.meta_root = os.path.join(work, "meta")
        self.snapshot = os.path.join(work, "meta_snapshot")
        meta_url = "file://" + os.path.join(self.meta_root, "meta.json")
        history = gen.make_history(self.src, seed)

        # the ledger the engine would have written for that history: one
        # compacted segment plus exactly COMPACT_THRESHOLD loose per-run
        # partitions, so the next append crosses the threshold
        loose = pipeline.COMPACT_THRESHOLD
        runs = 2 * loose
        meta = Meta(url=meta_url)
        self.stats_dir = sidecar_dir(meta_url)
        for r in range(runs):
            run_ts = (HISTORY_START + timedelta(hours=r)).isoformat()
            entries = [
                ObjectMeta(
                    source="file://" + os.path.abspath(f.path),
                    target="file://" + os.path.join(self.out_dir, "history", os.path.basename(f.path)),
                    record_processed=f.kept,
                    timestamp=run_ts,
                )
                for f in history.files[r::runs]
            ]
            for om in entries:
                meta.record(om)
            pipeline._append_ledger_sidecar(self.stats_dir, run_ts, entries)
            if r == loose - 1:
                pipeline.compact_ledger_sidecar(self.stats_dir, threshold=0)
        meta.save()
        shutil.copytree(self.meta_root, self.snapshot)

        self.transfer = Transfer(
            name="incremental",
            source=Source(name="file://" + self.src, data_type=SCHEMA),
            target=Target(name="file://" + os.path.join(self.out_dir, "b<mod:4>", "<file>"), compression="gzip"),
            meta=Resource(name=meta_url),
            filter=FILTER,
            transformer=TRANSFORMER,
            base_dir=work,
        )
        self.service = Service(spark, [self.transfer])
        self.seq = 0
        self.loose_before: list[int] = []
        for _ in range(WARM_CYCLES):
            self.cycle(spark)

    def reset(self) -> None:
        for ops in (self.heavy, self.light, self.loose_before):
            ops.clear()
        self.out_bytes = self.in_bytes = self.outputs = 0

    def restore(self) -> None:
        """Put the ledger back to the set-up snapshot and drop the files
        earlier cycles landed, so they are not new again."""
        for d in (self.meta_root, self.live, self.out_dir):
            shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.snapshot, self.meta_root)

    def loose_partitions(self) -> int:
        return sum(1 for d in os.listdir(self.stats_dir) if d.startswith("run_ts=") and not d.startswith("run_ts=_"))

    def patch(self, patches) -> None:
        """Spans around the engine's module entry points, wrapped where
        ``pipeline`` and ``service`` look them up."""
        from pyspark.sql.classic.dataframe import DataFrame

        from etly_spark import pipeline
        from etly_spark.meta import Meta, ProcessedIndex
        from etly_spark.pipeline import TransferService
        from etly_spark.service import Service

        self.listed = 0
        self.written = 0

        def listed(objs) -> None:
            self.listed += len(objs)

        def written(outs) -> None:
            self.written += len(outs)

        (
            patches.wrap(pipeline, "list_source_objects", "sources.list", on_result=listed)
            .wrap(pipeline, "read_records", "sources.read_plan")
            .wrap(pipeline, "compact_ledger_sidecar", "meta.compact")
            .wrap(TransferService, "run", "pipeline.run")
            .wrap(TransferService, "_run_url_window", "pipeline.window")
            .wrap(TransferService, "_write_routed", "pipeline.write", on_result=written)
            .wrap(TransferService, "_finalize_routed", "pipeline.finalize")
            # the per-file ledger stats are a collect inside the window body
            .wrap(DataFrame, "collect", "pipeline.ledger_stats", only_from="_transfer_url_files")
            .wrap(Meta, "load", "meta.load")
            .wrap(Meta, "save", "meta.save")
            .wrap(ProcessedIndex, "processed_among", "meta.skip_index")
            .wrap(Service, "run_due", "service.run_due")
        )

    def layers(self, tracer, log, since: float, cycles: int) -> dict:
        per = 1.0 / cycles
        meta_files = tree_files(self.meta_root)
        return {
            "sources.list_s": tracer.total("sources.list") * per,
            "sources.objects_listed": self.listed * per,
            "sources.read_plan_s": tracer.total("sources.read_plan") * per,
            "pipeline.windows": tracer.count("pipeline.window") * per,
            "pipeline.write_s": tracer.self_total("pipeline.write") * per,
            "pipeline.finalize_s": tracer.total("pipeline.finalize") * per,
            "pipeline.outputs": self.written * per,
            "pipeline.ledger_stats_s": tracer.total("pipeline.ledger_stats") * per,
            "meta.load_s": tracer.total("meta.load") * per,
            "meta.save_s": tracer.total("meta.save") * per,
            "meta.skip_index_s": tracer.total("meta.skip_index") * per,
            "meta.compact_s": tracer.total("meta.compact") * per,
            "meta.json_bytes": sum(os.path.getsize(p) for p in meta_files if p.endswith(".json")),
            "meta.sidecar_files": sum(1 for p in meta_files if p.endswith(".parquet")),
            # run_due's own time: everything but the TransferService.run calls it made
            "service.overhead_s": tracer.self_total("service.run_due") * per,
            "sink.files": self.outputs * per,
            "sink.bytes_per_in_byte": self.out_bytes / self.in_bytes if self.in_bytes else 0.0,
        }

    def poll(self):
        t0 = time.time()
        tasks = self.service.run_due()
        return tasks[0] if tasks else None, time.time() - t0

    def cycle(self, spark, extra: bool = False) -> float:
        self.restore()
        self.loose_before.append(self.loose_partitions())
        wall = 0.0
        for _ in range(EMPTY_POLLS):
            noop, t_noop = self.poll()
            self.light.append(t_noop)
            wall += t_noop
            self.check(noop is not None and noop.status == "NOOP", f"empty poll {noop and noop.status}")
        self.seq += 1
        landing = gen.make_landing(self.src, self.seed, self.seq)
        task, t_land = self.poll()
        self.heavy.append(t_land)
        self.verify(landing, task)
        return wall + t_land

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# {type(self).__name__}: {what}"[:400])

    def verify(self, landing, task) -> None:
        self.check(task is not None and task.status == "DONE", f"landing poll {task and task.status} {task and task.error}")
        if task is None:
            return
        got = task.progress.get("record_processed")
        self.check(got == landing.kept, f"landing poll processed {got} != {landing.kept}")
        outs = [_local(o) for o in task.outputs]
        self.check(gz_lines(outs) == landing.kept, "landed lines differ from the kept count")
        self.outputs += len(outs)
        self.out_bytes += sum(os.path.getsize(o) for o in outs)
        self.in_bytes += sum(os.path.getsize(f.path) for f in landing.files)

    def end_to_end(self) -> dict:
        light, heavy = median(self.light), median(self.heavy)
        return {"wall_s": light + heavy, "light_s": light, "heavy_s": heavy}

    def notes(self) -> dict:
        t = tail(self.heavy)
        return {
            "heavy_ops": len(self.heavy),
            "light_ops": len(self.light),
            # fewer than 20 ops leave no percentile above the median with 10 beyond it
            "heavy_tail": None if t is None else {"pct": t[0], "s": t[1], "beyond": t[2]},
            "records_per_s": gen.LANDING_FILES * gen.LANDING_LINES / median(self.heavy) if self.heavy else None,
            # loose sidecar partitions before each cycle's polls: always COMPACT_THRESHOLD
            "loose_partitions": sorted(set(self.loose_before)),
        }
