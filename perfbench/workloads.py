"""The benchmark's workloads: one timed operation each, plus its check.

Each workload drives the program only through its public functions,
over inputs generated by ``gen`` from the run's seed. ``inputs`` builds
the seed's inputs on a cache miss, in plain Python in a process of its
own, and is called before the timed Spark session starts, so that the
timed process and its JVM only ever load cached inputs;
``load`` reads them into the session, ``op`` is the timed operation,
and ``check`` compares the op's output with the counts the generator
planted.

There is no warm-up op: an op is timed first in its JVM, as one
``run_validation.py`` invocation (or its ``--validate-connectors`` mode)
runs it. A warm op would hide the JIT share of what users wait for, and
was no steadier from run to run: the second op of a JVM still compiles.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from contextlib import nullcontext

from . import gen

N_IMAGES = 5000
N_ASSET_ROWS = 1000
N_DEDUP_ROWS = 50000


def cached(cache: str, name: str, build, plan) -> str:
    """Directory ``cache/name``, built on a miss by ``build(plan, tmp_dir)``
    and published with an atomic rename. The build runs in a process of
    its own, so the timed process keeps none of its memory or warm state.
    That process is forked (a spawned one would leave multiprocessing's
    resource tracker running), so call this before starting any thread."""
    path = os.path.join(cache, name)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        proc = multiprocessing.get_context("fork").Process(target=build, args=(plan, tmp))
        proc.start()
        proc.join()
        if proc.exitcode != 0:
            raise RuntimeError(f"building {name} failed with exit code {proc.exitcode}")
        os.rename(tmp, path)
    return path


def untraced(layer_call: str):
    """The default ``step`` of an op. Each step of an op is named for the
    layer call it makes; a traced run passes a ``step`` that runs it
    under a job group of that name."""
    return nullcontext()


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Workload:
    name = ""
    items = 0

    def __init__(self, seed: int, cache: str, work: str):
        self.seed, self.cache, self.work = seed, cache, work
        self.spark = None

    def inputs(self) -> str:
        """The cache directory of the seed's inputs, built on a miss."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Read the cached inputs into ``spark``."""
        raise NotImplementedError

    def op(self, k, step=untraced) -> dict:
        raise NotImplementedError

    def out_dir(self, k) -> str:
        return os.path.join(self.work, f"{self.name}-{k}")

    def check(self, result: dict) -> bool:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# image day-1


class ImageDay1(Workload):
    """``run_validation.main``'s call sequence, in process: the ten
    default rules under ``ValidationRun`` with fingerprints, then the
    ``verdicts()`` summary."""

    name = "image_day1"

    def inputs(self) -> str:
        return cached(self.cache, f"images-s{self.seed}-n{N_IMAGES}", gen.write_images,
                      gen.ImagePlan.make(self.seed, N_IMAGES))

    def load(self, spark) -> None:
        self.spark = spark
        path = self.inputs()
        self.items = gen.ImagePlan.make(self.seed, N_IMAGES).n_rows
        self.path = f"{path}/images"
        self.images = spark.read.parquet(f"{path}/images")
        self.captions = spark.read.parquet(f"{path}/captions")
        with open(f"{path}/expected.json") as f:
            self.expected = {tuple(json.loads(k)): v for k, v in json.load(f).items()}

    def rules(self) -> list:
        from run_validation import default_rules

        return default_rules(dict(gen.FMT_REFERENCE))

    def validation_run(self, out: str):
        from assetdatavalidationtool_spark.manifest import ValidationRun

        return ValidationRun(self.spark, out, self.rules(), num_buckets=gen.NUM_BUCKETS,
                             run_id="day1", partition_col="bucket")

    def op(self, k, step=untraced) -> dict:
        from pyspark.sql import functions as F

        out = self.out_dir(k)
        with step("manifest.run"):
            run = self.validation_run(out)
            summary = run.run(self.images, self.captions, record_fingerprints=True,
                              fingerprint_bytes=False)
        with step("manifest.verdicts"):
            verdicts = run.verdicts()
            failed = verdicts.where(~(F.col("violation_count") == 0)).count()
            total = verdicts.agg(F.sum("violation_count")).collect()[0][0]
        return {"run": run, "summary": summary, "failed": failed,
                "total": int(total or 0), "out": out}

    def check(self, result: dict) -> bool:
        got = {
            (r["rule"], int(r["bucket"])): [int(r["rows_scanned"]), int(r["violation_count"])]
            for r in result["run"].verdicts().collect()
        }
        exp_total = sum(v[1] for v in self.expected.values())
        exp_failed = sum(1 for v in self.expected.values() if v[1])
        return (
            result["summary"]["rules_run"] == len(self.rules())
            and result["total"] == exp_total
            and result["failed"] == exp_failed
            and got == self.expected
        )


# ---------------------------------------------------------------------------
# cross-source asset validation


class AssetSources(Workload):
    """The reference tool's report: read four CSV registers, run
    ``validate_sources``, then ``deltas_auto`` + ``deltas_summary``,
    writing every table."""

    name = "asset_sources"

    def inputs(self) -> str:
        return cached(self.cache, f"assets-s{self.seed}-n{N_ASSET_ROWS}", gen.write_assets,
                      gen.AssetPlan.make(self.seed, N_ASSET_ROWS))

    def load(self, spark) -> None:
        self.spark = spark
        path = self.inputs()
        plan = gen.AssetPlan.make(self.seed, N_ASSET_ROWS)
        self.paths = {s: os.path.join(path, f"{s}.csv") for s in gen.SOURCES}
        self.items = sum(plan.csv_text(s).count("\n") - 1 for s in gen.SOURCES)
        self.expected = plan.expected()

    def sources(self) -> dict:
        from assetdatavalidationtool_spark.sources.asset_csv import read_asset_table

        return {s: (read_asset_table(self.spark, p, order_column="_row"), gen.KEY)
                for s, p in self.paths.items()}

    def op(self, k, step=untraced) -> dict:
        from assetdatavalidationtool_spark.sources.report import write_report_tables
        from assetdatavalidationtool_spark.validation import validate_sources
        from assetdatavalidationtool_spark.validation.deltas import deltas_auto, deltas_summary

        out = self.out_dir(k)
        with step("sources.read_asset_table"):
            sources = self.sources()
        with step("validation.validate_sources"):
            counts = validate_sources(self.spark, sources, out, order_col="_row")
        with step("validation.deltas_auto"):  # infers the field mapping
            d = deltas_auto(sources, "_row")
        with step("sources.write_report_tables"):
            counts.update(write_report_tables(
                self.spark, f"{out}/deltas", {"Deltas": d, "DeltasSummary": deltas_summary(d)}))
        return {"counts": counts, "out": out}

    def check(self, result: dict) -> bool:
        e, c = self.expected, result["counts"]
        per_source = {
            r["source"]: r["mismatch_cells"]
            for r in self.spark.read.parquet(f"{result['out']}/deltas/DeltasSummary").collect()
        }
        want = {s: e["deltas_per_source"] for s in gen.SOURCES[1:]}
        want["__total__"] = e["Deltas"]
        return (
            all(c[t] == e[t] for t in ("KeyPresence", "MatchesAll", "MissingByFile",
                                       "Conflicts", "Deltas", "DeltasSummary"))
            and per_source == want
        )


# ---------------------------------------------------------------------------
# near-dup clustering


class ImageDedup(Workload):
    """``phash_neardup_pairs`` -> ``connected_components`` ->
    ``canonical_docs`` over a metadata-only phash table, results written."""

    name = "image_dedup"

    def inputs(self) -> str:
        return cached(self.cache, f"dedup-s{self.seed}-n{N_DEDUP_ROWS}", gen.write_dedup,
                      gen.DedupPlan.make(self.seed, N_DEDUP_ROWS))

    def load(self, spark) -> None:
        self.spark = spark
        path = self.inputs()
        self.items = N_DEDUP_ROWS
        self.docs = spark.read.parquet(f"{path}/docs")
        with open(f"{path}/expected.json") as f:
            self.expected = json.load(f)

    def op(self, k, step=untraced) -> dict:
        from assetdatavalidationtool_spark.operators.dedup import (
            canonical_docs, connected_components)
        from assetdatavalidationtool_spark.operators.phash import phash_neardup_pairs

        out = self.out_dir(k)
        with step("operators.phash_neardup_pairs"):
            phash_neardup_pairs(self.docs).write.parquet(f"{out}/pairs")
        pairs = self.spark.read.parquet(f"{out}/pairs")
        with step("operators.connected_components"):
            connected_components(pairs, src="image_a", dst="image_b",
                                 checkpoint_dir=f"{out}/_cc").write.parquet(f"{out}/clusters")
        clusters = self.spark.read.parquet(f"{out}/clusters")
        with step("operators.canonical_docs"):
            canonical_docs(clusters, self.docs, "image_id", "n_bytes").write.parquet(
                f"{out}/canonical")
        shutil.rmtree(f"{out}/_cc", ignore_errors=True)
        return {"out": out}

    def check(self, result: dict) -> bool:
        out, e = result["out"], self.expected
        n_pairs = self.spark.read.parquet(f"{out}/pairs").count()
        clusters = self.spark.read.parquet(f"{out}/clusters")
        kept = sorted(
            [r["cluster_id"], r["kept_doc_id"]]
            for r in self.spark.read.parquet(f"{out}/canonical").collect()
        )
        return (
            n_pairs == e["pairs"]
            and clusters.count() == e["clustered_docs"]
            and clusters.select("cluster_id").distinct().count() == e["clusters"]
            and kept == [list(x) for x in e["kept"]]
        )


# the workloads ``BENCHMARK.json`` lists; ``ImageDedup`` runs in the
# traced run only
WORKLOADS = {w.name: w for w in (ImageDay1, AssetSources)}
