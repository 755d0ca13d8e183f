"""Checkpoint/manifest-driven resumable validation runs.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's analog is the run-level audit log
(src/Services/AuditLogger.cs:10-28 — timestamp/user/sources manifest);
ours is partition-grained and drives *resume*, not just audit.

Layout under ``output_dir`` (plain parquet here; an Iceberg catalog
swaps in by changing the writer format — the layout and semantics are
format-agnostic):

    violations/run_id=<run>/rule=<rule>/bucket=<b>/*.parquet
    verdicts/run_id=<run>/rule=<rule>/bucket=<b>/*.parquet
    metrics/run_id=<run>/rule=<rule>/*.parquet   (rule-level stats /
                          drift sketches: metric, column, value)
    manifest/*.parquet   (append-only: run_id, rule, bucket, status,
                          rows_scanned, violation_count, wall_sec, seq)

Semantics:

* Logical partition = ``bucket = pmod(xxhash64(key), num_buckets)`` —
  stable across runs/cluster layouts (rules/base.py).
* A rule is **bucket-aligned** when its violations for bucket b depend
  only on rows whose key hashes to b (schema, row-invariant, uniqueness
  on the bucket key, referential on the bucket key). Aligned rules
  resume at bucket grain: completed buckets are skipped, incomplete
  ones recomputed on a bucket-filtered input.
* Global rules (drift, stats sketches, uniqueness on other keys) are a
  single unit (bucket -1): rerun whole if not complete.
* Group execution: a run sorts the rules it will execute into groups —
  aligned rules with the same todo-bucket set, and all global rules —
  and runs each group as one unit: one violations write, one verdicts
  write, one metrics write (each partitioned by rule), verdicts built
  on the driver, then ONE manifest batch. A crash before a group's
  batch is published reruns the whole group; ``wall_sec`` is the
  group's wall time, shared by its rows.
* Idempotence: results are written with dynamic partition overwrite
  keyed by (run_id, rule, bucket) — re-running a completed partition
  replaces rather than double-counts. The manifest is append-only;
  the LATEST status row per (run_id, rule, bucket) wins.
"""

from __future__ import annotations

import dataclasses
import functools
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .rules.base import Rule, RuleContext

MANIFEST_SCHEMA = (
    "run_id string, rule string, bucket long, status string, "
    "rows_scanned long, violation_count long, wall_sec double, seq long"
)

# Per-bucket input fingerprints: one row per (side, bucket) plus one
# "_meta" compatibility row. fp is the exact decimal(38,0) sum of
# per-row xxhash64 over the side's columns, serialized as a string —
# order-independent (sum is commutative), duplicate-sensitive (unlike
# XOR, two identical rows do NOT cancel), and overflow-free under ANSI
# (10^12 rows x 2^63 < 10^38).
FINGERPRINT_SCHEMA = "bucket long, side string, n_rows long, fp string"
VERDICT_SCHEMA = "rule string, bucket long, rows_scanned long, violation_count long"


def bucket_fingerprints(
    ctx: RuleContext, include_bytes: bool = True, extra_meta: str = ""
) -> DataFrame:
    """Per-bucket content fingerprints of the run's input — the change
    detector behind incremental re-validation (``incremental_from``).

    One metadata-speed aggregate per side: every row hashes its columns
    (sorted by name, so column order is irrelevant) with ``xxhash64``
    and the per-bucket fingerprint is the exact decimal sum. Buckets
    whose (n_rows, fp) both match the base run's — on EVERY side — are
    provably byte-identical input partitions (up to 64-bit hash
    collisions) and can inherit the base run's results.

    ``include_bytes=False`` drops the payload column from the hash: the
    scan then reads only the narrow metadata columns (parquet column
    pruning — at 10^12 rows that is ~40 B/row instead of ~50 KB/row),
    at the cost of trusting that payload edits always surface in
    metadata (w/h/fmt/phash). Default True: one IO-speed read of the
    payload replaces the full decode+compare pass — on a real Iceberg
    deployment even that read disappears, because snapshot/file-level
    diffs identify unchanged partitions from pure metadata; this
    content fingerprint is the format-agnostic equivalent.

    The "_meta" row pins everything that makes fingerprints comparable:
    num_buckets, key_col, custom bucketing, and whether bytes were
    hashed. A mismatch on any of these makes the comparison refuse to
    inherit (full recompute) rather than guess.
    """
    parts = []
    schema_sigs = []
    for side, df in (("images", ctx.images), ("captions", ctx.captions)):
        if df is None:
            continue
        cols = sorted(c for c in df.columns if include_bytes or c != "bytes")
        # r6 (ADVICE): pin the hashed columns' NAMES AND TYPES in the
        # meta row. Value hashes alone cannot see a rename that keeps
        # sorted position or a type migration with equal hashes
        # (xxhash64(true) == xxhash64(1 as int)), so SchemaRule's day-1
        # verdicts could be inherited across exactly the schema drift
        # SchemaRule exists to catch. Any schema difference now
        # disables inheritance (full recompute — the safe direction).
        dtypes = dict(df.dtypes)
        schema_sigs.append(
            f"{side}=" + ",".join(f"{c}:{dtypes[c]}" for c in cols)
        )
        # xxhash64 SKIPS null inputs, so (w=512, h=NULL) and
        # (w=NULL, h=512) would hash identically — exactly the
        # column-swap corruption validation exists to catch. Appending
        # the null-pattern flags (never null themselves) breaks the
        # symmetry: the values still skip, the flags differ.
        null_flags = [F.col(c).isNull().cast("int") for c in cols]
        h = F.xxhash64(*[F.col(c) for c in cols], *null_flags)
        parts.append(
            ctx.with_bucket(df)
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(h.cast("decimal(38,0)")).cast("string").alias("fp"),
            )
            .select(
                "bucket", F.lit(side).alias("side"), "n_rows", "fp"
            )
        )
    meta = ctx.spark.createDataFrame(
        [(
            -1,
            "_meta",
            ctx.num_buckets,
            f"key={ctx.key_col}|bytes={int(include_bytes)}"
            f"|custom_bucket={int(ctx.bucket_expr is not None)}"
            f"|schema:{';'.join(schema_sigs)}"
            f"{extra_meta}",
        )],
        FINGERPRINT_SCHEMA,
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.unionAll(meta)

ALIGNED_RULE_PREFIXES = (
    "schema", "row_invariant", "referential", "gate", "header",
)

# Per-row modality rules that bucket their violations by a fixed key
# column of their table (rules/audio.py, rules/video.py use
# pmod(xxhash64(<id>), num_buckets) exactly like bucket_col). They are
# bucket-aligned whenever the run's key_col IS that column — then a
# resume re-decodes only the missing buckets instead of the whole
# clips/videos table.
FIXED_KEY_ALIGNED = {"audio_invariant": "clip_id", "video_invariant": "video_id"}


def rule_is_bucket_aligned(rule: Rule, ctx: RuleContext) -> bool:
    name = rule.name
    if name.startswith(ALIGNED_RULE_PREFIXES):
        return True
    for prefix, key in FIXED_KEY_ALIGNED.items():
        if name.startswith(prefix):
            return ctx.key_col == key
    if name.startswith("uniqueness("):
        keys = name[len("uniqueness(") : -1].split(",")
        return keys == [ctx.key_col]
    return False


class ValidationRun:
    """Resumable rule-set execution over an images(+captions) table."""

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        rules: list[Rule],
        num_buckets: int = 64,
        run_id: str = "run_0",
        key_col: str = "image_id",
        bucket_expr=None,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self.out = output_dir.rstrip("/")
        self.rules = rules
        self.num_buckets = num_buckets
        self.run_id = run_id
        self.key_col = key_col
        # Custom bucketing (e.g. mirroring an Iceberg partition
        # transform) flows into the RuleContext so every rule, the
        # resume filter, and the written partition values all agree.
        self.bucket_expr = bucket_expr
        # Name of a PHYSICAL partition column the input layout carries
        # whose value equals bucket_of(key) — what sources/bucketed.py
        # materializes at write time, or an Iceberg bucket partition
        # transform. When set, bucket-grain filters (resume, canary,
        # incremental) apply to THIS column instead of recomputing the
        # hash, so Spark prunes unchanged partitions at the source: a
        # resume or incremental pass never reads the skipped buckets'
        # files at all — the difference between "scan 100 TB and throw
        # 63/64 away" and "read 1/64". The layout is trusted to match
        # bucket_of(key), exactly like an engine trusts an Iceberg
        # partition transform; rules still compute bucket_of(key) for
        # their output rows, so a lying layout surfaces as verdicts
        # written under buckets the filter never selected.
        self.partition_col = partition_col
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return f"{self.out}/manifest"

    def _fingerprints_path(self, run_id: str | None = None) -> str:
        return f"{self.out}/fingerprints/run_id={run_id or self.run_id}"

    def read_manifest(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self._manifest_path())
        except Exception:
            return None

    def completed(self, run_id: str | None = None) -> dict[str, set[int]]:
        """{rule: {buckets done}} for a run_id (latest status wins).
        ``inherited`` buckets count as done: their results were copied
        from a base run and are as complete as a computed bucket —
        both for resume and for serving as a base themselves."""
        m = self.read_manifest()
        if m is None:
            return {}
        w = Window.partitionBy("rule", "bucket").orderBy(F.desc("seq"))
        latest = (
            m.where(F.col("run_id") == (run_id or self.run_id))
            .withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
        )
        done: dict[str, set[int]] = {}
        for r in latest.where(
            F.col("status").isin("done", "inherited")
        ).collect():
            done.setdefault(r["rule"], set()).add(r["bucket"])
        return done

    def _append_manifest(self, rows: list[tuple]) -> None:
        """Atomically publish a manifest batch (Iceberg-snapshot-style).

        A plain ``mode("append")`` job commit moves task files one by
        one, so a crash mid-commit can leave a concurrent resume
        reading a torn batch. Instead: write the batch as ONE parquet
        file to a staging dir, then ``os.rename`` it into ``manifest/``
        — rename is atomic on POSIX, so readers see the whole batch or
        none of it. (On an object store this seam is where an Iceberg
        snapshot commit swaps in; the layout and latest-seq-wins
        semantics are unchanged.) If the manifest path is not a local
        filesystem path, fall back to the plain append. Shared with
        ``expire_runs`` via the module-level publisher below.
        """
        _publish_manifest_batch(self.spark, self._manifest_path(), rows)

    # -- execution ---------------------------------------------------------
    def run(
        self,
        images: DataFrame,
        captions: DataFrame | None = None,
        sample_buckets: int | None = None,
        incremental_from: str | None = None,
        record_fingerprints: bool = False,
        fingerprint_bytes: bool = True,
    ) -> dict:
        """Execute the rule set (resumable), one rule group at a time
        (module docstring): a group's rules share one filtered input,
        one write per table kind and one manifest batch, so resume is
        exact at group grain — a crash before a group's batch reruns
        the whole group, and every row of that batch carries the
        group's wall time as ``wall_sec``. The summary counts
        ``rules_run`` and ``rule_groups`` executed, ``rules_skipped``,
        ``buckets_skipped``, ``rules_deferred``, ``buckets_inherited``.

        With ``sample_buckets=k``
        this is a CANARY run: bucket-aligned rules run only on buckets
        ``[0, k)`` and global rules are deferred entirely — a 1/(N/k)
        cost pre-flight that catches systematic problems (schema break,
        bad encoder deploy, caption pipeline desync) before committing
        to a full 10^12-row pass. Canary manifest rows are ordinary
        ``done`` rows, so the follow-up FULL run under the same run_id
        resumes past the canary's buckets instead of redoing them
        (bucket-aligned rules depend only on their own bucket's rows,
        which is what makes this exact rather than approximate).

        ``incremental_from=<base_run_id>`` makes this an INCREMENTAL
        re-validation — the scale path the reference lacks: it re-runs
        the full in-memory compare on every invocation
        (`src/Forms/MainForm.cs` -> `src/Services/Validator.cs:20-30`),
        fine at 10^4 rows and impossible at 10^12. Per-bucket input
        fingerprints (:func:`bucket_fingerprints`) are compared against
        the base run's recorded ones, and every bucket whose input is
        unchanged on EVERY side inherits the base run's materialized
        violations and verdicts (manifest status ``inherited`` — the
        lineage says so) instead of recomputing. Only changed buckets pay the full
        rule pass; at 10^12 rows with a 0.1% daily churn that is a
        ~1000x cut in decode work. Correctness guards: inheritance is
        per bucket-aligned rule and only from buckets the base manifest
        marks done; global rules inherit only when NO bucket changed;
        a num_buckets/key_col/bucket_expr/fingerprint-mode mismatch, or
        a missing base fingerprint table, disables inheritance entirely
        (full recompute — never a guess). The run records its own
        fingerprints afterwards, so incremental runs chain day over
        day. ``record_fingerprints=True`` records them on an ordinary
        full run (the bootstrap). ``fingerprint_bytes=False`` hashes
        only the metadata columns — a 1000x narrower scan that trusts
        payload edits to surface in metadata; both runs must use the
        same mode (it is pinned in the fingerprint ``_meta`` row)."""
        ctx = RuleContext(
            spark=self.spark, images=images, captions=captions,
            num_buckets=self.num_buckets, run_id=self.run_id,
            key_col=self.key_col, bucket_expr=self.bucket_expr,
        )
        if sample_buckets is not None and not (
            0 < sample_buckets <= self.num_buckets
        ):
            raise ValueError(
                f"sample_buckets must be in [1, {self.num_buckets}], "
                f"got {sample_buckets}"
            )
        if sample_buckets is not None and (
            incremental_from is not None or record_fingerprints
        ):
            # fingerprinting scans the WHOLE input — running it inside
            # a 1/(N/k)-cost canary defeats the canary's purpose, and a
            # canary only validates k buckets so it cannot vouch for an
            # inherited full result either.
            raise ValueError(
                "sample_buckets (canary) cannot be combined with "
                "incremental_from/record_fingerprints"
            )
        done = self.completed()
        seq = int(time.time() * 1000)
        summary = dict.fromkeys(
            ("rules_run", "rules_skipped", "buckets_skipped", "rules_deferred",
             "buckets_inherited", "rule_groups"), 0,
        )
        fp_rows = None
        if incremental_from is not None or record_fingerprints:
            # rule-set signature pins WHAT was validated, not just what
            # was read: rule names alone ("header_consistency", "gate")
            # carry no parameters, so a day-2 config change (tightened
            # threshold, disabled truncation check) would otherwise
            # silently inherit day-1 results computed under the OLD
            # config. Every rule is a dataclass — reprs are stable for
            # the same code + config; any repr drift merely disables
            # inheritance, the safe direction.
            import hashlib

            rules_sig = hashlib.md5(
                "|".join(sorted(repr(r) for r in self.rules)).encode()
            ).hexdigest()[:16]
            fp_rows = bucket_fingerprints(
                ctx, fingerprint_bytes, extra_meta=f"|rules={rules_sig}"
            ).collect()
            if not fingerprint_bytes:
                byte_rules = [
                    r.name for r in self.rules
                    if r.name.startswith(("row_invariant", "header"))
                ]
                if byte_rules:
                    # r6 (ADVICE): metadata-only fingerprints cannot see
                    # payload-only edits (truncation never surfaces in
                    # stored w/h/fmt/phash), so byte-reading rules'
                    # verdicts may be inherited over silently corrupted
                    # payloads. Warn, don't refuse — the caller may have
                    # an upstream payload-immutability guarantee (e.g.
                    # content-addressed storage).
                    import warnings

                    warnings.warn(
                        "fingerprint_bytes=False with byte-reading rules "
                        f"{byte_rules}: payload-only edits (e.g. "
                        "truncation) do not surface in metadata "
                        "fingerprints, so these rules' day-1 verdicts "
                        "can be inherited over corrupted payloads",
                        stacklevel=2,
                    )
        inherited_now: dict[str, set[int]] = {}
        if incremental_from is not None:
            unchanged = self._unchanged_buckets(fp_rows, incremental_from)
            if unchanged:
                inherited_now = self._inherit(
                    ctx, incremental_from, unchanged, done, seq)
                summary["buckets_inherited"] = sum(
                    len(b) for b in inherited_now.values())

        # Group planning: aligned rules with the same todo-bucket set
        # share one filtered context, global rules share the whole
        # input. Each group is one unit of work and of resume.
        all_buckets = frozenset(range(self.num_buckets))
        target = all_buckets if sample_buckets is None else frozenset(
            range(sample_buckets))
        groups: dict[tuple[bool, frozenset], list[Rule]] = {}
        for rule in self.rules:
            done_buckets = done.get(rule.name, set())
            if rule_is_bucket_aligned(rule, ctx):
                todo = target - done_buckets
                # buckets inherited THIS invocation are reported under
                # buckets_inherited only, not twice
                summary["buckets_skipped"] += len(
                    (done_buckets & target)
                    - inherited_now.get(rule.name, set())
                )
                if not todo:
                    summary["rules_skipped"] += 1
                    continue
                groups.setdefault((True, todo), []).append(rule)
            elif sample_buckets is not None:
                # global rules (drift, cross-bucket stats) see a biased
                # sample under a bucket filter — defer them to the full
                # run rather than record a misleading whole-table
                # verdict from 1/(N/k) of the data
                summary["rules_deferred"] += 1
            elif done_buckets:
                summary["rules_skipped"] += 1
            else:
                groups.setdefault((False, all_buckets), []).append(rule)

        # rows scanned per bucket, one table per distinct context (keyed
        # by its bucket filter, None = the whole input); the fingerprint
        # aggregate already counted the whole input's images side
        rows_per_bucket: dict[frozenset | None, dict] = {}
        if fp_rows is not None:
            rows_per_bucket[None] = {
                r["bucket"]: r["n_rows"] for r in fp_rows
                if r["side"] == "images"
            }
        for (aligned, todo), rules in groups.items():
            self._run_group(ctx, rules, aligned, todo,
                            sample_buckets is not None, rows_per_bucket, seq)
            summary["rules_run"] += len(rules)
            summary["rule_groups"] += 1
        if fp_rows is not None:
            # recorded LAST: a crash mid-run leaves no fingerprint
            # table, so a later incremental_from this run finds nothing
            # to inherit from rather than trusting a half-finished run
            self.spark.createDataFrame(
                fp_rows, FINGERPRINT_SCHEMA
            ).coalesce(1).write.mode("overwrite").parquet(
                self._fingerprints_path()
            )
        return summary

    def _unchanged_buckets(
        self, fp_rows: list, base_run_id: str
    ) -> set[int]:
        """Buckets whose input is byte-identical to the base run's on
        EVERY side (n_rows and fp both match). Empty set — full
        recompute — when the base recorded no fingerprints, when the
        "_meta" compatibility row differs (num_buckets / key_col /
        bucket_expr / fingerprint mode), or when the side sets differ
        (e.g. the base run had no captions table)."""
        try:
            base_rows = self.spark.read.parquet(
                self._fingerprints_path(base_run_id)
            ).collect()
        except Exception:
            return set()
        cur = {(r["side"], r["bucket"]): (r["n_rows"], r["fp"])
               for r in fp_rows}
        bas = {(r["side"], r["bucket"]): (r["n_rows"], r["fp"])
               for r in base_rows}
        if cur.get(("_meta", -1)) != bas.get(("_meta", -1)):
            return set()
        cur_sides = {s for s, _ in cur if s != "_meta"}
        bas_sides = {s for s, _ in bas if s != "_meta"}
        if cur_sides != bas_sides:
            return set()
        # r6 (ADVICE): a custom bucket_expr may emit NULL or
        # out-of-range bucket values; rows in such buckets would escape
        # the per-bucket comparison below entirely, so their churn
        # could never mark anything changed. Any observed bucket key
        # outside range(num_buckets) on either run disables inheritance
        # wholesale (full recompute — the safe direction).
        observed = {b for s, b in (set(cur) | set(bas)) if s != "_meta"}
        if any(b is None or not (0 <= b < self.num_buckets)
               for b in observed):
            return set()
        # a bucket absent on both sides (zero rows in both runs) is
        # unchanged; absent in exactly one is changed
        return {
            b for b in range(self.num_buckets)
            if all(cur.get((s, b)) == bas.get((s, b)) for s in cur_sides)
        }

    def _inherit(
        self,
        ctx: RuleContext,
        base_run_id: str,
        unchanged: set[int],
        done: dict[str, set[int]],
        seq: int,
    ) -> dict[str, set[int]]:
        """Copy the base run's materialized results for unchanged
        buckets into this run and mark them ``inherited`` in the
        manifest. Returns {rule: buckets inherited} and adds them to
        ``done``, so group planning skips them.

        Copies move only RESULT rows (violations + tiny verdicts) —
        never input data — so the cost is proportional to the base
        run's violation count, not the table. Missing base artifacts
        narrow safely: no verdict for a (rule, bucket) → it recomputes;
        no violation rows where the verdicts count some → the rule
        recomputes. Base results are read from each kind's run_id root
        and filtered on its ``rule`` partition column, because
        partitionBy escapes characters such as '=' and ':' in rule
        names (a hand-built ``rule=<name>`` path could miss)."""
        from pyspark.errors import AnalysisException

        def _read_base(kind: str) -> DataFrame | None:
            try:
                return self.spark.read.parquet(
                    f"{self.out}/{kind}/run_id={base_run_id}"
                )
            except AnalysisException as e:
                # UNABLE_TO_INFER_SCHEMA = the dir exists but holds no
                # data files — how an empty partitioned write (a run
                # whose rules were all clean) materializes
                if not any(m in str(e) for m in (
                    "PATH_NOT_FOUND", "Path does not exist",
                    "UNABLE_TO_INFER_SCHEMA",
                )):
                    raise  # unreadable ≠ clean: do not drop violations
                return None

        base_verd = _read_base("verdicts")
        if base_verd is None:
            return {}  # base verdicts gone (expired?) — recompute
        vrows = {
            (r["rule"], int(r["bucket"])): r
            for r in base_verd.where(
                F.col("rule").isin([r.name for r in self.rules])
            ).collect()
        }
        base_vio = _read_base("violations")
        base_metrics = _read_base("metrics")
        base_done = self.completed(base_run_id)
        all_buckets = set(range(self.num_buckets))
        manifest_rows: list[tuple] = []
        inherited: dict[str, set[int]] = {}
        for rule in self.rules:
            aligned = rule_is_bucket_aligned(rule, ctx)
            bdone = base_done.get(rule.name, set())
            if aligned:
                inh = (unchanged & bdone) - done.get(rule.name, set())
            else:
                # a global rule's verdict depends on every row: inherit
                # only when the ENTIRE input is unchanged
                inh = (
                    {-1}
                    if unchanged == all_buckets and -1 in bdone
                    and not done.get(rule.name)
                    else set()
                )
            # buckets without a base verdict recompute
            verd = [vrows[(rule.name, b)] for b in sorted(inh)
                    if (rule.name, b) in vrows]
            if not verd:
                continue
            inh = {int(r["bucket"]) for r in verd}
            # Which violation rows travel with these verdicts?
            # * global rule: ALL of them — its violations carry real
            #   bucket values (e.g. salted uniqueness buckets by its own
            #   key) even though the verdict unit is -1, and it only
            #   inherits when the whole input is unchanged.
            # * aligned rule: the inherited buckets, PLUS the bucket=-1
            #   partition (table-level rows like SchemaRule's
            #   'unexpected column', which have no per-bucket verdict)
            #   when inheritance covers the rule entirely — a partial
            #   inherit leaves -1 to the recompute leg, which re-derives
            #   table-level checks from the (unchanged) schema; copying
            #   it there could go stale if day-2 fixed the schema.
            vio_df = None
            if base_vio is not None:
                vio_df = base_vio.where(F.col("rule") == rule.name)
                if aligned:
                    full = (done.get(rule.name, set()) | inh) >= all_buckets
                    vio_df = vio_df.where(
                        F.col("bucket").isin(sorted(inh) + ([-1] if full else []))
                    )
            if sum(int(r["violation_count"]) for r in verd) > 0 and (
                vio_df is None or vio_df.isEmpty()
            ):
                # the verdicts vouch for violations whose rows are gone
                # (partial cleanup / expiry race) — inheriting would
                # leave split()/quarantine blind to known-bad rows
                continue
            if vio_df is not None:
                self._write_partitioned(vio_df)
            self._write_partitioned(base_verd.where(
                (F.col("rule") == rule.name) & F.col("bucket").isin(sorted(inh))
            ), "verdicts")
            manifest_rows += [
                (self.run_id, rule.name, int(r["bucket"]), "inherited",
                 int(r["rows_scanned"]), int(r["violation_count"]), 0.0, seq)
                for r in verd
            ]
            done.setdefault(rule.name, set()).update(inh)
            inherited[rule.name] = inh
        if inherited and base_metrics is not None:
            # metrics describe the whole table: valid whenever the rule
            # is inheritable at all; the group run overwrites them if
            # the rule still runs on changed buckets
            base_metrics.where(F.col("rule").isin(sorted(inherited))).write.mode(
                "overwrite"
            ).partitionBy("rule").parquet(f"{self.out}/metrics/run_id={self.run_id}")
        if manifest_rows:
            self._append_manifest(manifest_rows)
        return inherited

    def _filtered_ctx(self, ctx: RuleContext, todo: set[int] | None) -> RuleContext:
        if todo is None:
            return ctx
        blist = sorted(todo)

        def _bucket_filter(df: DataFrame) -> DataFrame:
            # physical partition column beats recomputing the hash:
            # the .isin over a partition column is a PartitionFilter —
            # skipped buckets' files are never opened
            if (self.partition_col is not None
                    and self.partition_col in df.columns):
                return df.where(F.col(self.partition_col).isin(blist))
            return df.where(ctx.bucket_of(F.col(ctx.key_col)).isin(blist))

        f_img = _bucket_filter(ctx.images)
        f_cap = (
            _bucket_filter(ctx.captions)
            if ctx.captions is not None
            else None
        )
        # dataclasses.replace keeps bucket_expr/extras (and any future
        # field): the resumed rules MUST bucket with the same expression
        # the filter above selected by, or dynamic-partition overwrite
        # writes the recomputed rows under different buckets than the
        # manifest marked incomplete.
        return dataclasses.replace(ctx, images=f_img, captions=f_cap)

    def _run_group(
        self, ctx: RuleContext, rules: list[Rule], aligned: bool,
        todo: frozenset, canary: bool, rows_per_bucket: dict, seq: int,
    ) -> None:
        """Run one group of rules as one unit: their violations as one
        persisted union written once, verdicts built on the driver from
        one (rule, bucket) count collect and the context's
        rows-per-bucket table, metrics written once, then ONE manifest
        batch. Until that batch is published the whole group counts as
        incomplete; a rerun overwrites the same partitions."""
        t0 = time.time()
        key = None if len(todo) == self.num_buckets else todo
        gctx = self._filtered_ctx(ctx, key)
        vio = functools.reduce(DataFrame.unionByName, [
            r.violations(gctx).withColumn("rule", F.lit(r.name)) for r in rules
        ]).persist()
        self._write_partitioned(vio)
        # table-level violations (no bucket) count under -1, like the
        # partition they are written to
        counts = {
            (r["rule"], r["bucket"]): r["n"]
            for r in vio.groupBy(
                "rule", F.coalesce("bucket", F.lit(-1)).alias("bucket")
            ).agg(F.count("*").alias("n")).collect()
        }
        vio.unpersist()
        if key not in rows_per_bucket:
            rows_per_bucket[key] = {
                r["bucket"]: r["count"]
                for r in gctx.with_bucket(gctx.images.select(gctx.key_col))
                .groupBy("bucket").count().collect()
            }
        rpb = rows_per_bucket[key]
        verdicts = []
        for rule in rules:
            if aligned:
                # one verdict per bucket that holds input rows
                verdicts += [
                    (rule.name, b, n, counts.get((rule.name, b), 0))
                    for b, n in rpb.items()
                ]
            else:
                # global rule: the run-level unit is recorded as bucket -1
                verdicts.append((
                    rule.name, -1, sum(rpb.values()),
                    sum(n for (r, _), n in counts.items() if r == rule.name),
                ))
        self._write_partitioned(
            self.spark.createDataFrame(verdicts, VERDICT_SCHEMA), "verdicts"
        )
        # north_rule: the checkpoint layout carries stats metrics.
        # Metrics describe the WHOLE table, so they are computed on the
        # unfiltered ctx even for a bucket-filtered resume (recomputing
        # them is idempotent). Canary runs are the exception: scanning
        # the whole table for metrics would defeat the 1/(N/k) cost
        # point, so they use the sampled ctx — the follow-up full run
        # overwrites with whole-table metrics.
        mctx = gctx if canary else ctx
        metrics = [
            m.select(F.lit(rule.name).alias("rule"), "metric", "column",
                     F.col("value").cast("double"))
            for rule in rules
            if (m := rule.metrics(mctx)) is not None
        ]
        if metrics:
            functools.reduce(DataFrame.unionByName, metrics).write.mode(
                "overwrite"
            ).partitionBy("rule").parquet(f"{self.out}/metrics/run_id={self.run_id}")
        # the manifest 'done' rows cover exactly the buckets COMPUTED
        # here (a NULL or out-of-range custom bucket is never one)
        wall = float(time.time() - t0)
        self._append_manifest([
            (self.run_id, r, b, "done", n, v, wall, seq)
            for r, b, n, v in verdicts
            if not aligned or b in todo
        ])

    def _write_partitioned(self, df: DataFrame, kind: str = "violations") -> None:
        """Write ``df`` (with ``rule`` and ``bucket`` columns) under
        ``<kind>/run_id=<run>/rule=<rule>/bucket=<b>``. Dynamic
        partition overwrite replaces only the partitions ``df`` holds."""
        df.withColumn("bucket", F.coalesce("bucket", F.lit(-1))).write.mode(
            "overwrite"
        ).partitionBy("rule", "bucket").parquet(
            f"{self.out}/{kind}/run_id={self.run_id}"
        )

    def split(self, images: DataFrame) -> str:
        """Write the clean/quarantine split for this run's violations.

        Reads the violations ALREADY materialized by :meth:`run` (zero
        rule re-execution — at 10^12 rows re-running the rules to
        classify rows would double the cost of the run) and performs the
        one-scan tagged write of :func:`rules.base.write_split` under
        ``<out>/split/run_id=<id>/status={clean,quarantine}``. Returns
        the split root path.
        """
        from .rules.base import split_violations, write_split

        ctx = RuleContext(
            spark=self.spark,
            images=images,
            num_buckets=self.num_buckets,
            run_id=self.run_id,
            key_col=self.key_col,
            bucket_expr=self.bucket_expr,
        )
        from pyspark.errors import AnalysisException

        try:
            vio = self.violations()
        except AnalysisException as e:
            # ONLY a missing path means "fully-clean run wrote no
            # violation files" — any other read failure (permissions,
            # corrupt files, mistyped --output) must abort, not tag
            # every known-bad row status=clean (same narrowing as
            # streaming stream_dedup_exact's ledger read).
            if ("PATH_NOT_FOUND" not in str(e)
                    and "Path does not exist" not in str(e)):
                raise
            vio = ctx.empty_violations()
        parts = split_violations(ctx, vio)
        path = f"{self.out}/split/run_id={self.run_id}"
        write_split(parts["tagged"], path)
        return path

    # -- readers -----------------------------------------------------------
    def violations(self) -> DataFrame:
        return self.spark.read.option("basePath", f"{self.out}/violations").parquet(
            f"{self.out}/violations/run_id={self.run_id}"
        )

    def verdicts(self) -> DataFrame:
        return self.spark.read.option("basePath", f"{self.out}/verdicts").parquet(
            f"{self.out}/verdicts/run_id={self.run_id}"
        )

    def metrics(self) -> DataFrame:
        """(rule, metric, column, value) for rules that emit metrics
        (stats sketches, drift scores); empty-pattern read raises if no
        rule in the run produced metrics."""
        return self.spark.read.option("basePath", f"{self.out}/metrics").parquet(
            f"{self.out}/metrics/run_id={self.run_id}"
        )


def _publish_manifest_batch(
    spark: SparkSession, mpath: str, rows: list[tuple]
) -> None:
    """Write one manifest batch as ONE parquet file and os.rename it
    into the manifest dir — atomic on POSIX, so concurrent readers see
    the whole batch or none of it (see ValidationRun._append_manifest
    for the full rationale). Non-local paths fall back to plain append.
    """
    import glob
    import os
    import shutil
    import uuid

    df = spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1)
    if "://" in mpath and not mpath.startswith("file://"):
        df.write.mode("append").parquet(mpath)
        return
    mdir = mpath[len("file://"):] if mpath.startswith("file://") else mpath
    batch = uuid.uuid4().hex
    staging_root = f"{os.path.dirname(mdir)}/.manifest_staging"
    staging = f"{staging_root}/{batch}"
    df.write.mode("overwrite").parquet(staging)
    os.makedirs(mdir, exist_ok=True)
    files = sorted(glob.glob(f"{staging}/*.parquet"))
    if len(files) != 1:
        # A real error, not assert: under python -O a silently-renamed
        # files[0] would drop the rest of the batch — a torn batch,
        # the exact failure the atomic rename exists to prevent.
        raise RuntimeError(
            f"expected exactly one staged manifest file, got {files}"
        )
    os.rename(files[0], f"{mdir}/batch-{batch}.parquet")
    shutil.rmtree(staging, ignore_errors=True)
    # GC: a crash between write and rename leaves orphan staging
    # dirs. Sweep only entries older than an hour — a younger
    # sibling may be a concurrent publisher mid-flight — then drop
    # the parent if that left it empty.
    try:
        cutoff = time.time() - 3600
        for stale in os.listdir(staging_root):
            p = f"{staging_root}/{stale}"
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        os.rmdir(staging_root)
    except OSError:
        pass


def expire_runs(
    spark: SparkSession,
    output_dir: str,
    keep_last: int | None = None,
    keep_run_ids: tuple[str, ...] | list[str] = (),
) -> dict:
    """Retire old validation runs — the Iceberg expire-snapshots analog
    for the checkpoint layout. Returns {"kept", "expired", "tombstones"}.

    Runs are ordered by their newest manifest ``seq``; the keep set is
    ``keep_run_ids`` plus the ``keep_last`` most recent. At least one
    of the two must be given (``keep_last=0`` states "expire all"
    explicitly). For every
    expired run this (1) FIRST appends tombstone rows (status
    ``expired``, seq above every existing one) for each (rule, bucket)
    currently ``done`` — latest-seq-wins makes ``completed()`` empty,
    so a later resume under that run_id recomputes instead of trusting
    deleted data — then (2) deletes the run's violations/verdicts/
    metrics/split partitions. A crash between the two leaves only
    orphan data dirs (harmless: re-running expire removes them); the
    reverse order could leave a manifest that vouches for vanished
    parquet. The manifest itself stays append-only — the audit trail
    of expired runs survives their data.
    """
    import shutil

    if keep_last is None and not keep_run_ids:
        # all-defaults would compute an EMPTY keep set and expire every
        # run in the layout — total data loss from a no-argument call.
        # Deleting everything must be spelled out (keep_last=0).
        raise ValueError(
            "expire_runs with neither keep_last nor keep_run_ids would "
            "expire EVERY run; pass keep_last=0 if that is intended"
        )
    if "://" in output_dir and not output_dir.startswith("file://"):
        raise NotImplementedError(
            "expire_runs deletes via the local filesystem; wire an "
            "object-store lister/deleter for remote layouts"
        )
    root = (
        output_dir[len("file://"):]
        if output_dir.startswith("file://")
        else output_dir
    )
    m = spark.read.parquet(f"{root}/manifest")
    # Latest status per (run, rule, bucket); only LIVE ('done')
    # partitions define a run's existence and recency — tombstones
    # carry high seqs by design and must not make an expired run look
    # newest, and a fully-tombstoned ghost must drop out entirely.
    w = Window.partitionBy("run_id", "rule", "bucket").orderBy(F.desc("seq"))
    live = (
        m.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .where(F.col("status").isin("done", "inherited"))
        .select("run_id", "rule", "bucket", "seq")
        .persist()
    )
    ordered = [
        r["run_id"]
        for r in live.groupBy("run_id")
        .agg(F.max("seq").alias("last_seq"))
        .orderBy(F.desc("last_seq"), "run_id")
        .collect()
    ]
    keep = set(keep_run_ids)
    if keep_last is not None:
        keep |= set(ordered[:keep_last])
    expired = [rid for rid in ordered if rid not in keep]
    # ghosts: recorded in the manifest but zero LIVE rows — fully
    # tombstoned runs whose data deletion crashed mid-way last time.
    # Swept on EVERY call (including when nothing new expires) or the
    # crash leftovers would leak forever.
    all_recorded = {
        r["run_id"] for r in m.select("run_id").distinct().collect()
    }
    ghosts = all_recorded - set(ordered) - keep
    if not expired:
        live.unpersist()
        swept = _sweep_ghost_run_dirs(root, ghosts)
        return {"kept": ordered, "expired": [], "swept": swept,
                "tombstones": 0}

    max_seq = m.agg(F.max("seq")).collect()[0][0]
    latest_done = (
        live.where(F.col("run_id").isin(expired))
        .select("run_id", "rule", "bucket")
        .collect()
    )
    live.unpersist()
    rows = [
        (r["run_id"], r["rule"], int(r["bucket"]), "expired", 0, 0, 0.0,
         int(max_seq) + 1)
        for r in latest_done
    ]
    if rows:
        _publish_manifest_batch(spark, f"{root}/manifest", rows)
    for rid in expired:
        for kind in ("violations", "verdicts", "metrics", "split", "fingerprints"):
            shutil.rmtree(f"{root}/{kind}/run_id={rid}", ignore_errors=True)
    swept = _sweep_ghost_run_dirs(root, ghosts)
    return {
        "kept": [rid for rid in ordered if rid in keep],
        "expired": expired,
        "swept": swept,
        "tombstones": len(rows),
    }


def verdict_regression(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-(rule, bucket) regression diff between two verdict tables.

    The cross-run complement of the within-run verdicts: run A is the
    last known-good validation, run B the current one, and the diff
    answers "which partitions got WORSE" without touching a single
    data row — verdicts are ``rules × num_buckets`` rows however large
    the table is, so at 10^12 images this is a join of two ~10^4-row
    sides. Reference analog: eyeballing two Summary sheets side by
    side (ReportGenerator.cs run counts), upgraded to partition grain
    and made mechanical.

    Statuses: ``regressed`` (more violations in B), ``improved``,
    ``unchanged``, ``only_a`` / ``only_b`` (a (rule, bucket) present in
    one run only — rule-set or bucketing changed between runs; these
    rows are flagged rather than silently dropped, since a vanished
    bucket usually means a changed ``bucket_expr``, which makes the
    per-bucket comparison meaningless for that rule).
    """
    ka = a.select(
        "rule",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rows_scanned").cast("long").alias("rows_a"),
        F.col("violation_count").cast("long").alias("violations_a"),
    )
    kb = b.select(
        "rule",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rows_scanned").cast("long").alias("rows_b"),
        F.col("violation_count").cast("long").alias("violations_b"),
    )
    j = ka.join(kb, ["rule", "bucket"], "full_outer")
    status = (
        F.when(F.col("violations_a").isNull(), F.lit("only_b"))
        .when(F.col("violations_b").isNull(), F.lit("only_a"))
        .when(F.col("violations_b") > F.col("violations_a"), F.lit("regressed"))
        .when(F.col("violations_b") < F.col("violations_a"), F.lit("improved"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "rule",
        "bucket",
        "rows_a",
        "rows_b",
        "violations_a",
        "violations_b",
        (F.coalesce("violations_b", F.lit(0)) - F.coalesce("violations_a", F.lit(0)))
        .cast("long")
        .alias("delta"),
        status.alias("status"),
    )


def compare_runs(
    spark: SparkSession, output_dir: str, run_a: str, run_b: str
) -> DataFrame:
    """Read two runs' verdicts from a validation layout and diff them
    (see :func:`verdict_regression`). ``run_a`` is the baseline (last
    known-good), ``run_b`` the run under test."""
    root = output_dir.rstrip("/")

    def _verdicts(rid: str) -> DataFrame:
        return (
            spark.read.option("basePath", f"{root}/verdicts")
            .parquet(f"{root}/verdicts/run_id={rid}")
        )

    return verdict_regression(_verdicts(run_a), _verdicts(run_b))


def _sweep_ghost_run_dirs(root: str, ghosts: set[str]) -> list[str]:
    """Remove data dirs of runs that appear in the manifest but have NO
    live rows (fully tombstoned) — the leftovers of a crash between
    expire_runs' tombstone publish and its deletion pass. Without this
    sweep such a run never reappears in the expired list (it has no
    'done' rows) and its partitions would leak forever. Runs with data
    dirs but no manifest rows at all are NOT touched — that is a
    mid-flight run that has not committed its first batch yet."""
    import os
    import shutil

    swept: set[str] = set()
    for kind in ("violations", "verdicts", "metrics", "split", "fingerprints"):
        kdir = f"{root}/{kind}"
        if not os.path.isdir(kdir):
            continue
        for entry in os.listdir(kdir):
            if not entry.startswith("run_id="):
                continue
            rid = entry[len("run_id="):]
            if rid in ghosts:
                shutil.rmtree(f"{kdir}/{entry}", ignore_errors=True)
                swept.add(rid)
    return sorted(swept)
