"""The traced run: per-layer metrics.

Every traced run, whatever ``--workload`` names, measures every layer,
so each one prints the same metric names:

* Session A (its own JVM, no event log) runs one ``image_dedup`` op,
  the untraced reference for ``trace.overhead_pct``.
* Session B (a new JVM, uncompressed event log) runs the same op
  traced, first in its JVM like A's; then one traced op of
  ``image_day1`` and of ``asset_sources``, each layer call under its own
  job group, plus a few single-layer calls (scan, kernel, fingerprints,
  each validator alone).

After session B stops, ``eventlog.fold_file`` folds the log per job
group; spans are wall-clock times taken here around each call, and the
``/proc`` sampler gives CPU by process kind. Inside
``ValidationRun.run`` each rule's share is a *slice*: from the call of
that rule's ``violations`` to the next rule's (for the last rule, to
its manifest rows), which covers its violations, verdicts, metrics and
manifest writes. The rest of the run, before the first rule and the
fingerprint table written after the last, is ``manifest.overhead_s``.

Inputs missing from the cache are built before session A starts, so
neither session is warmed by the generators.
"""

from __future__ import annotations

import glob
import os
import re
import time
from contextlib import contextmanager

from perfbench import eventlog, gen
from perfbench.procs import cpu_delta
from perfbench.workloads import AssetSources, ImageDay1, ImageDedup, tree_size

KERNEL_SAMPLE = 100
PROBE = "probe"
# the groups a workload's own op runs in, for proc.*; the image op's
# rule slices are added when the rules are known
OP_GROUPS = {
    "asset_sources": ["sources.read_asset_table", "validation.validate_sources",
                      "validation.deltas_auto", "sources.write_report_tables"],
    "image_dedup": ["operators.phash_neardup_pairs", "operators.connected_components",
                    "operators.canonical_docs"],
}


def rule_metric(name: str) -> str:
    return "rules." + re.sub(r"[^A-Za-z0-9_.-]+", "-", name).strip("-")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans and CPU per job group; a group is open until the next one
    starts or ``close`` is called."""

    def __init__(self, spark, tree):
        self.sc, self.tree = spark.sparkContext, tree
        self.spans: dict[str, float] = {}
        self.cpu: dict[str, dict[str, float]] = {}
        self._open: tuple[str, float, dict] | None = None

    def enter(self, name: str) -> None:
        self.close()
        self.sc.setJobGroup(name, name)
        self._open = (name, time.perf_counter(), self.tree.cpu())

    def close(self) -> None:
        if self._open is None:
            return
        name, t0, cpu0 = self._open
        self._open = None
        self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
        cpu = cpu_delta(self.tree.cpu(), cpu0)
        prev = self.cpu.get(name)
        self.cpu[name] = cpu if prev is None else {k: prev[k] + cpu[k] for k in cpu}
        self.sc.setJobGroup("perfbench", "between traced calls")

    @contextmanager
    def group(self, name: str):
        self.enter(name)
        try:
            yield
        finally:
            self.close()


def kernel_us(images) -> dict[str, float]:
    """Single-thread microseconds per image for decode, reference render
    and PSNR, on a driver-side sample of the table."""
    from assetdatavalidationtool_spark.codecs import decode_image, psnr
    from assetdatavalidationtool_spark.datagen import render_image, row_params

    rows = images.select("image_id", "bytes", "fmt").limit(KERNEL_SAMPLE).collect()
    t = {"decode": 0.0, "render": 0.0, "psnr": 0.0}
    for r in rows:
        p = row_params(int(r["image_id"].split("_")[-1]))
        t0 = time.perf_counter()
        got = decode_image(bytes(r["bytes"]), r["fmt"])
        t1 = time.perf_counter()
        ref = render_image(r["image_id"], p["w"], p["h"])
        t2 = time.perf_counter()
        psnr(ref, got)
        t3 = time.perf_counter()
        t["decode"] += t1 - t0
        t["render"] += t2 - t1
        t["psnr"] += t3 - t2
    return {k: v / len(rows) * 1e6 for k, v in t.items()}


def image_layers(tr: Tracer, wl: ImageDay1, m: dict) -> bool:
    """The image op, each rule in its own slice; then the manifest's
    read-side calls, the scan and the kernel alone."""
    from assetdatavalidationtool_spark.manifest import bucket_fingerprints
    from assetdatavalidationtool_spark.rules import RuleContext

    rules = wl.rules()
    for rule in rules:
        # an instance attribute: the rule's fields, repr and name (which
        # the run's fingerprint signature reads) stay as they are
        def hooked(ctx, _run=rule.violations, _name=rule_metric(rule.name)):
            tr.enter(_name)
            return _run(ctx)

        rule.violations = hooked
    make_run = wl.validation_run

    def validation_run(out: str):
        # the last rule's slice ends with its manifest rows: the
        # fingerprint table the run writes after them is manifest work
        run = make_run(out)
        append = run._append_manifest

        def hooked_append(rows):
            append(rows)
            if rows and rows[0][1] == rules[-1].name:
                tr.enter("manifest.run")

        run._append_manifest = hooked_append
        return run

    wl.rules, wl.validation_run = (lambda: rules), validation_run
    result = wl.op("traced", step=tr.group)
    del wl.rules, wl.validation_run
    m["manifest.run.files_written"] = (tree_size(result["out"])[0], "files")
    ok = wl.check(result)
    with tr.group("manifest.completed"):
        result["run"].completed()

    ctx = RuleContext(spark=wl.spark, images=wl.images, captions=wl.captions,
                      num_buckets=gen.NUM_BUCKETS, run_id="trace")
    with tr.group("manifest.bucket_fingerprints"):
        bucket_fingerprints(ctx, include_bytes=False).collect()
    with tr.group("scan.images"):
        noop(wl.images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    us = kernel_us(wl.images)
    m["codecs.decode_image_us"] = (us["decode"], "us")
    m["datagen.render_image_us"] = (us["render"], "us")
    m["codecs.psnr_us"] = (us["psnr"], "us")
    return ok


def source_layers(tr: Tracer, aw: AssetSources) -> bool:
    """The asset op, one group per step; then the scan and each validator
    alone to the noop sink."""
    from assetdatavalidationtool_spark.validation import (
        conflicts, field_mapping_scores, key_presence, matches_all, missing_by_file)
    from assetdatavalidationtool_spark.validation.conflicts import common_columns
    from assetdatavalidationtool_spark.validation.deltas import deltas_summary

    result = aw.op("traced", step=tr.group)
    ok = aw.check(result)
    sources = aw.sources()
    with tr.group("sources.scan"):
        for df, _ in sources.values():
            noop(df)
    cols = [c for c in common_columns(sources) if not c.startswith("_")]
    base, other = (sources[s][0] for s in gen.SOURCES[:2])
    deltas = aw.spark.read.parquet(f"{result['out']}/deltas/Deltas")
    alone = {
        "key_presence": lambda: key_presence(sources),
        "matches_all": lambda: matches_all(sources),
        "missing_by_file": lambda: missing_by_file(sources),
        "conflicts": lambda: conflicts(sources, "_row", columns=cols),
        "field_mapping_scores": lambda: field_mapping_scores(
            base, gen.KEY, other, gen.KEY, "_row"),
        "deltas_summary": lambda: deltas_summary(deltas),
    }
    for name, call in alone.items():
        with tr.group(f"validation.{name}"):
            noop(call())
    return ok


def operator_layers(tr: Tracer, dw: ImageDedup, m: dict) -> bool:
    """The dedup op, one group per operator; ``PROBE`` spans all of it."""
    t0 = time.perf_counter()
    result = dw.op("traced", step=tr.group)
    tr.spans[PROBE] = time.perf_counter() - t0
    pairs = dw.spark.read.parquet(f"{result['out']}/pairs")
    clusters = dw.spark.read.parquet(f"{result['out']}/clusters")
    m["operators.phash_neardup_pairs.pairs"] = (pairs.count(), "count")
    m["operators.connected_components.clusters"] = (
        clusters.select("cluster_id").distinct().count(), "count")
    return dw.check(result)


def traced(args, session, tree) -> dict:
    from perfbench.run import ROOT, timed

    cache = str(ROOT / ".perfbench_cache")
    m: dict[str, tuple[float, str]] = {}

    dedup = ImageDedup(args.seed, cache, session.work)
    image = ImageDay1(args.seed, cache, session.work)
    assets = AssetSources(args.seed, cache, session.work)
    for w in (dedup, image, assets):
        w.inputs()  # cache misses are built before either session starts
    tree.start()

    # session A: the untraced reference op, first in its JVM
    m["session.get_spark_s"] = (session.start(event_log=False), "s")
    dedup.load(session.spark)
    untraced_s = timed(lambda: dedup.op("untraced"))
    session.close()

    # session B: everything traced, in a new JVM
    session.start(event_log=True)
    tr = Tracer(session.spark, tree)
    dedup.load(session.spark)
    ok = [operator_layers(tr, dedup, m)]
    m["setup.load_s"] = (timed(lambda: image.load(session.spark)), "s")
    ok.append(image_layers(tr, image, m))
    assets.load(session.spark)
    ok.append(source_layers(tr, assets))
    rule_names = [rule_metric(r.name) for r in image.rules()]
    session.stop_context()
    stats = eventlog.fold_file(glob.glob(os.path.join(session.work, "eventlog", "*"))[0])

    def g(name: str) -> eventlog.GroupStats:
        return stats.get(name, eventlog.GroupStats())

    def unit(field: str) -> str:
        return {"shuffle_mb": "MB", "spill_mb": "MB", "task_s": "s",
                "jvm_cpu_s": "s"}.get(field, "count")

    def span(name: str, *fields: str) -> None:
        m[f"{name}.s"] = (tr.spans[name], "s")
        for f in fields:
            m[f"{name}.{f}"] = (getattr(g(name), f), unit(f))

    run_groups = ["manifest.run"] + rule_names
    groups = OP_GROUPS.get(args.workload, run_groups + ["manifest.verdicts"])
    for kind in ("driver", "jvm", "pyworker"):
        m[f"proc.{kind}_cpu_s"] = (sum(tr.cpu[s][kind] for s in groups), "s")
    m["scan.images_s"] = (tr.spans["scan.images"], "s")
    # the noop scan reads every column of the table, so its files' size
    m["scan.images_mb"] = (tree_size(image.path)[1] / 2**20, "MB")
    rule_s = 0.0
    for key in rule_names:
        rule_s += tr.spans[key]
        if key == "rules.row_invariant":
            span(key, "jobs", "task_s")
            m[f"{key}.pyworker_cpu_s"] = (tr.cpu[key]["pyworker"], "s")
        else:
            span(key, "jobs", "shuffle_mb")
    # the run's jobs are folded under the rule slices they ran in
    m["manifest.run.s"] = (tr.spans["manifest.run"] + rule_s, "s")
    for f in ("jobs", "stages", "tasks", "task_s", "jvm_cpu_s", "shuffle_mb", "spill_mb",
              "sql_execs", "small_writes"):
        m[f"manifest.run.{f}"] = (sum(getattr(g(x), f) for x in run_groups), unit(f))
    m["manifest.overhead_s"] = (tr.spans["manifest.run"], "s")
    span("manifest.bucket_fingerprints", "jobs")
    span("manifest.completed")
    span("manifest.verdicts")
    span("sources.read_asset_table")
    span("sources.scan")
    span("sources.write_report_tables", "jobs")
    m["sources.write_report_tables.files_written"] = (
        tree_size(os.path.join(assets.out_dir("traced"), "deltas"))[0], "files")
    for fn in ("key_presence", "matches_all", "missing_by_file", "conflicts",
               "field_mapping_scores", "deltas_auto", "deltas_summary"):
        span(f"validation.{fn}", "jobs", "shuffle_mb")
    span("validation.validate_sources", "jobs")
    span("operators.phash_neardup_pairs", "jobs", "shuffle_mb")
    span("operators.connected_components", "jobs", "stages")
    span("operators.canonical_docs", "jobs")
    m["trace.overhead_pct"] = (100.0 * (tr.spans[PROBE] - untraced_s) / untraced_s, "%")
    failed = sum(not x for x in ok)
    return {"correct": failed == 0, "attempted": len(ok), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}}
