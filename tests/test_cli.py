"""End-to-end test of the deployment surface: run_validation.py invoked
as a subprocess (the spark-submit analog), image and audio modalities,
including resume semantics of a second identical invocation."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, f"{REPO}/run_validation.py", *args],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


@pytest.fixture(scope="module")
def images_dir(spark, tmp_path_factory):
    from assetdatavalidationtool_spark.datagen import generate_captions, generate_images

    d = tmp_path_factory.mktemp("cli_data")
    generate_images(spark, 120, partitions=2, dup_ids=2, bad_pixel_ids=3).write.parquet(
        str(d / "images")
    )
    generate_captions(spark, 120, partitions=2, drop_ids=4).write.parquet(
        str(d / "captions")
    )
    return d


def test_cli_image_run_and_resume(images_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_out"))
    r1 = _run_cli(
        "--images", str(images_dir / "images"),
        "--captions", str(images_dir / "captions"),
        "--output", out, "--run-id", "cli1",
        "--num-buckets", "8", "--cores", "4", "--split",
    )
    assert r1["rules_run"] == 10 and r1["rules_skipped"] == 0
    # six aligned rules share one group, four global rules the other
    assert r1["rule_groups"] == 2
    # --split wrote the clean/quarantine sinks from the run's violations
    assert r1["split"] == f"{out}/split/run_id=cli1"
    assert os.path.isdir(f"{out}/split/run_id=cli1/status=clean")
    assert os.path.isdir(f"{out}/split/run_id=cli1/status=quarantine")
    # planted faults: 2 dups + 3 bad pixels (+2 dup re-emits of clean
    # rows' captions are fine) + 4 missing captions — at least these
    assert r1["total_violations"] >= 2 + 3 + 4
    assert r1["failed_partitions"] > 0

    # identical re-invocation = pure resume, nothing recomputed
    r2 = _run_cli(
        "--images", str(images_dir / "images"),
        "--captions", str(images_dir / "captions"),
        "--output", out, "--run-id", "cli1",
        "--num-buckets", "8", "--cores", "4",
    )
    assert r2["rules_run"] == 0 and r2["rules_skipped"] == 10
    assert r2["rule_groups"] == 0
    assert r2["total_violations"] == r1["total_violations"]
    # metrics landed in the layout (stats + drift rules emit them)
    assert os.path.isdir(f"{out}/metrics/run_id=cli1/rule=stats")


def test_cli_audio_modality(spark, tmp_path_factory):
    from assetdatavalidationtool_spark.datagen import generate_clips

    d = tmp_path_factory.mktemp("cli_audio")
    generate_clips(spark, 30, partitions=2, n_samples=800, corrupt_ids=2).write.parquet(
        str(d / "clips")
    )
    out = str(tmp_path_factory.mktemp("cli_audio_out"))
    r = _run_cli(
        "--images", str(d / "clips"), "--output", out,
        "--run-id", "cliA", "--modality", "audio",
        "--num-buckets", "4", "--cores", "4",
    )
    assert r["rules_run"] == 4
    assert r["total_violations"] >= 2  # the corrupt clips


def test_cli_snapshot_then_drift_from(spark, images_dir, tmp_path_factory):
    """Day-1 run records the fmt distribution; day-2 run on a drifted
    table validates against it via --drift-from and the drift rule
    fires (violations land under rule=drift(fmt))."""
    out = str(tmp_path_factory.mktemp("cli_drift_out"))
    r1 = _run_cli(
        "--images", str(images_dir / "images"),
        "--output", out, "--run-id", "day1",
        "--num-buckets", "4", "--cores", "4",
        "--snapshot", "fmt:categorical,w:numeric",
    )
    assert r1["rules_run"] == 10
    assert os.path.isdir(f"{out}/metrics/run_id=day1/rule=snapshot(fmt)")
    assert os.path.isdir(f"{out}/metrics/run_id=day1/rule=snapshot(w)")

    # day-2 input: same rows, fmt column forced to one value (drifted)
    from pyspark.sql import functions as F

    drifted = str(tmp_path_factory.mktemp("cli_drift_data") / "images")
    spark.read.parquet(str(images_dir / "images")).withColumn(
        "fmt", F.lit("webp")
    ).write.parquet(drifted)

    _run_cli(
        "--images", drifted, "--output", out, "--run-id", "day2",
        "--num-buckets", "4", "--cores", "4", "--drift-from", "day1",
    )
    drift_vio = spark.read.parquet(
        f"{out}/violations/run_id=day2/rule=drift(fmt)"
    )
    details = {r["detail"].split()[0] for r in drift_vio.collect()}
    assert "ks" in details or "psi" in details

    # day-3: RUN_ID:COL selects the non-fmt snapshot — the extra drift
    # rule bins w exactly like day1's recorded spec and fires on a
    # shifted w distribution (stock set + drift(w))
    w_drifted = str(tmp_path_factory.mktemp("cli_drift_w") / "images")
    spark.read.parquet(str(images_dir / "images")).withColumn(
        "w", F.lit(1000)
    ).write.parquet(w_drifted)
    r3 = _run_cli(
        "--images", w_drifted, "--output", out, "--run-id", "day3",
        "--num-buckets", "4", "--cores", "4", "--drift-from", "day1:w",
    )
    assert r3["rules_run"] == 11
    w_vio = spark.read.parquet(f"{out}/violations/run_id=day3/rule=drift(w)")
    assert w_vio.count() > 0

    # error path: a column day1 never snapshotted fails with a usable
    # message, not a raw parquet path-not-found
    bad = subprocess.run(
        [sys.executable, f"{REPO}/run_validation.py",
         "--images", w_drifted, "--output", out, "--run-id", "day4",
         "--num-buckets", "4", "--cores", "4", "--drift-from", "day1:phash"],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert bad.returncode != 0
    assert "no snapshot for column 'phash'" in bad.stderr
    assert "'fmt'" in bad.stderr and "'w'" in bad.stderr  # what day1 DID record


def test_cli_video_modality(spark, tmp_path_factory):
    from assetdatavalidationtool_spark.datagen import generate_videos

    d = tmp_path_factory.mktemp("cli_video")
    generate_videos(
        spark, 16, partitions=2, n_frames=4, w=16, h=12, corrupt_ids=2
    ).write.parquet(str(d / "videos"))
    out = str(tmp_path_factory.mktemp("cli_video_out"))
    r = _run_cli(
        "--images", str(d / "videos"), "--output", out,
        "--run-id", "cliV", "--modality", "video",
        "--num-buckets", "4", "--cores", "4",
    )
    assert r["rules_run"] == 4
    assert r["total_violations"] >= 2  # the corrupt videos


def test_cli_validate_connectors(spark, tmp_path_factory):
    """The MainForm workflow end-to-end from the CLI: a config of
    labeled sources (two replayed REST connectors + one CSV file) ->
    presence/conflicts suite -> report tables + Summary counts on
    stdout."""
    d = tmp_path_factory.mktemp("cli_conn")
    (d / "sn.json").write_text(json.dumps([{"result": [
        {"serial_number": "S1", "name": "h1", "os": "linux"},
        {"serial_number": "S2", "name": "h2", "os": "windows"},
    ]}]))
    (d / "graph.json").write_text(json.dumps([{"value": [
        {"serialNumber": "s1", "name": "h1", "os": "macos"},
        {"serialNumber": "S3", "name": "h3", "os": "linux"},
    ]}]))
    (d / "inv.csv").write_text(
        "Serial Number,name,os\nS1,h1,linux\nS2,h2,windows\nS3,h3,linux\n"
    )
    out = str(tmp_path_factory.mktemp("cli_conn_out"))
    cfg = {
        "sources": [
            {"label": "ServiceNow", "type": "servicenow", "key": "serial_number",
             "base_url": "https://sn.example", "table": "cmdb_ci",
             "replay": str(d / "sn.json")},
            {"label": "AzureAD", "type": "graph", "key": "serialNumber",
             "base_url": "https://graph.example/devices",
             "replay": str(d / "graph.json")},
            {"label": "Inventory", "type": "csv", "key": "Serial Number",
             "path": str(d / "inv.csv")},
        ]
    }
    (d / "cfg.json").write_text(json.dumps(cfg))
    r = _run_cli("--validate-connectors", str(d / "cfg.json"),
                 "--output", out, "--cores", "4")
    assert r["mode"] == "validate_connectors"
    assert r["sources"] == ["ServiceNow", "AzureAD", "Inventory"]
    # S1-3 all exist in Inventory; MatchesAll = only S1 (in all three);
    # missing: S2 from AzureAD, S3 from ServiceNow
    assert r["KeyPresence"] == 3 and r["MatchesAll"] == 1
    assert r["MissingByFile"] == 2
    # os conflicts on S1 (linux/macos/linux)
    assert r["Conflicts"] == 1
    assert os.path.isdir(f"{out}/Summary")


def test_spark_submit_py_files_deployment(images_dir, tmp_path_factory):
    """The literal deployment path: package the library into engine.zip
    and run the job under `spark-submit --py-files engine.zip` from a
    cwd OUTSIDE the repo with PYTHONPATH stripped, so every import must
    resolve from the shipped zip (what a multi-executor cluster sees)."""
    import shutil

    import pyspark

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    work = tmp_path_factory.mktemp("submit")
    zip_path = shutil.make_archive(
        str(work / "engine"), "zip",
        root_dir=REPO, base_dir="assetdatavalidationtool_spark",
    )
    out_dir = str(work / "out")
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    res = subprocess.run(
        [
            spark_submit,
            "--py-files", zip_path,
            f"{REPO}/run_validation.py",
            "--images", str(images_dir / "images"),
            "--captions", str(images_dir / "captions"),
            "--output", out_dir, "--run-id", "zip1",
            "--num-buckets", "4", "--cores", "2",
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(work), env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["rules_run"] == 10
    assert summary["total_violations"] >= 2 + 3 + 4


def test_cli_expire_keep_last(images_dir, tmp_path_factory):
    """--expire-keep-last N retires older runs from the CLI: their data
    partitions vanish, the manifest tombstones them, and the current
    run (always kept) still no-op resumes afterwards."""
    out = str(tmp_path_factory.mktemp("cli_expire"))
    common = ["--images", str(images_dir / "images"),
              "--output", out, "--num-buckets", "4", "--cores", "4"]
    _run_cli(*common, "--run-id", "e_old")
    r = _run_cli(*common, "--run-id", "e_new", "--expire-keep-last", "1")
    assert r["expired_runs"] == ["e_old"]
    assert not os.path.isdir(f"{out}/violations/run_id=e_old")
    assert os.path.isdir(f"{out}/violations/run_id=e_new")
    r2 = _run_cli(*common, "--run-id", "e_new")
    assert r2["rules_run"] == 0  # kept run untouched by the expiry


def test_cli_compare_to(spark, images_dir, tmp_path_factory):
    """--compare-to diffs the current run's verdicts against a baseline
    run in the same layout: a degraded day-2 input (captions dropped)
    reports regressed referential buckets, and the diff table lands
    under OUTPUT/regressions/."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("cli_compare"))
    common = ["--output", out, "--num-buckets", "4", "--cores", "4"]
    _run_cli("--images", str(images_dir / "images"),
             "--captions", str(images_dir / "captions"),
             "--run-id", "base", *common)

    degraded = str(tmp_path_factory.mktemp("cli_compare_data") / "captions")
    spark.read.parquet(str(images_dir / "captions")).where(
        ~F.col("image_id").rlike("[02468]$")
    ).write.parquet(degraded)

    r = _run_cli("--images", str(images_dir / "images"),
                 "--captions", degraded,
                 "--run-id", "day2", "--compare-to", "base", *common)
    assert r["regression_vs"] == "base"
    counts = r["regression_counts"]
    assert counts.get("regressed", 0) > 0
    diff = spark.read.parquet(f"{out}/regressions/run_id=day2/vs=base")
    reg = diff.where(F.col("status") == "regressed")
    assert reg.count() == counts["regressed"]
    # only the referential rule regressed — uniqueness/schema/pixel
    # inputs are identical between the two runs
    assert {r2["rule"] for r2 in reg.collect()} == {"referential"}


def test_cli_incremental_from(images_dir, spark, tmp_path_factory):
    """--fingerprint on day 1, --incremental-from on day 2: unchanged
    buckets are inherited, the changed bucket recomputes, and the day-2
    violation set equals a from-scratch run on the day-2 input."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("cli_incr"))
    common = ["--captions", str(images_dir / "captions"),
              "--output", out, "--num-buckets", "8", "--cores", "4"]
    r1 = _run_cli("--images", str(images_dir / "images"),
                  *common, "--run-id", "day1", "--fingerprint")
    assert r1["rules_run"] == 10 and r1["buckets_inherited"] == 0
    assert os.path.isdir(f"{out}/fingerprints/run_id=day1")

    # day-2 images: one image's metadata width tampered (bytes intact)
    day2 = str(tmp_path_factory.mktemp("cli_incr_d2") / "images")
    imgs = spark.read.parquet(str(images_dir / "images"))
    victim = imgs.select("image_id").orderBy("image_id").limit(1).collect()[0][0]
    imgs.withColumn(
        "w",
        F.when(F.col("image_id") == victim, F.col("w") + 7).otherwise(F.col("w")),
    ).write.parquet(day2)

    r2 = _run_cli("--images", day2, *common,
                  "--run-id", "day2", "--incremental-from", "day1")
    assert r2["buckets_inherited"] > 0
    assert r2["rules_run"] > 0  # changed bucket + global rules recompute
    # results are indistinguishable from a fresh day-2 run
    r3 = _run_cli("--images", day2, *common, "--run-id", "fresh2")
    vio = lambda rid: {  # noqa: E731
        (r["rule"], r["key"], r["detail"])
        for r in spark.read.option("basePath", f"{out}/violations")
        .parquet(f"{out}/violations/run_id={rid}")
        .select("rule", "key", "detail").collect()
    }
    assert vio("day2") == vio("fresh2")
    assert r2["total_violations"] == r3["total_violations"]
