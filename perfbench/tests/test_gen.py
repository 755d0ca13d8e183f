"""The generators' closed-form counts against naive recomputation from
the generated rows (no Spark)."""

import csv
import io
import itertools

import numpy as np
import pytest

from perfbench import gen


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


# ---------------------------------------------------------------------------
# asset registers


def parse(text: str, width: int) -> list[list[str]]:
    rows = list(csv.reader(io.StringIO(text)))[1:]
    return [r + [""] * (width - len(r)) for r in rows]  # ragged-row padding


def first_rows(rows):
    out = {}
    for r in rows:
        out.setdefault(r[0].strip().upper(), r)
    return out


def norm(v: str) -> str:
    return v.strip().lower()


def reference_counts(plan: gen.AssetPlan) -> dict:
    """The report's semantics written out naively: keys trimmed and
    upper-cased, values trimmed and case-folded, first row per key wins,
    columns paired by meaning (the renamed one included)."""
    width = len(gen.HEADERS["Baseline"])
    src = {s: first_rows(parse(plan.csv_text(s), width)) for s in gen.SOURCES}
    keys = set().union(*src.values())
    present = {k: [s for s in gen.SOURCES if k in src[s]] for k in keys}
    common = [gen.HEADERS["Baseline"].index(c) for c in gen.COMMON]
    conflicts = sum(
        1 for k in keys for c in common
        if len(present[k]) >= 2 and len({norm(src[s][k][c]) for s in present[k]}) > 1
    )
    deltas = {}
    base = src["Baseline"]
    for s in gen.SOURCES[1:]:
        n = 0
        for k in set(base) | set(src[s]):
            b = base.get(k, [""] * width)
            o = src[s].get(k, [""] * width)
            n += sum(1 for c in range(width)
                     if norm(b[c]) != norm(o[c]) and not (norm(b[c]) == norm(o[c]) == ""))
        deltas[s] = n
    return {
        "KeyPresence": len(keys),
        "MatchesAll": sum(1 for k in keys if len(present[k]) == len(gen.SOURCES)),
        "MissingByFile": sum(len(gen.SOURCES) - len(p) for p in present.values()),
        "Conflicts": conflicts,
        "Deltas": sum(deltas.values()),
        "deltas": deltas,
    }


@pytest.mark.parametrize("seed", [0, 3, 41])
def test_asset_counts_match_naive_report(seed):
    plan = gen.AssetPlan.make(seed, 1200)
    e, ref = plan.expected(), reference_counts(plan)
    for t in ("KeyPresence", "MatchesAll", "MissingByFile", "Conflicts", "Deltas"):
        assert e[t] == ref[t], t
    assert set(ref["deltas"].values()) == {e["deltas_per_source"]}


def test_asset_registers_carry_every_fault():
    plan = gen.AssetPlan.make(5, 1200)
    text = plan.csv_text("CMDB")
    rows = list(csv.reader(io.StringIO(text)))
    assert any(len(r) < len(rows[0]) for r in rows)  # ragged
    assert any(r[0] != r[0].strip() for r in rows)  # key whitespace
    assert any(r[0].startswith("ast-") for r in rows)  # key case
    assert gen.AssetPlan.make(5, 1200).csv_text("CMDB") == text
    assert gen.AssetPlan.make(6, 1200).csv_text("CMDB") != text


# ---------------------------------------------------------------------------
# image table


@pytest.fixture(scope="module")
def image_plan():
    return gen.ImagePlan.make(9, 300)


@pytest.fixture(scope="module")
def image_rows(image_plan):
    return image_plan.rows(0, image_plan.n_rows)


def test_image_counts_match_generated_rows(image_plan, image_rows):
    from assetdatavalidationtool_spark.codecs import decode_image, psnr
    from assetdatavalidationtool_spark.datagen import render_image, row_params

    rows = image_rows
    e = image_plan.expected()
    null = rows["w"].isna()
    w, h = rows["w"].fillna(1), rows["h"].fillna(1)
    extreme = ~null & ((w > 4 * h) | (h > 4 * w))
    assert e["schema"] == 2 * null.sum()
    assert e["gate"] == null.sum() + extreme.sum()
    assert e["header_consistency"] == null.sum()
    assert e["uniqueness(image_id)"] == (rows["image_id"].value_counts() > 1).sum()
    assert e["uniqueness(phash)"] == (rows["phash"].value_counts() > 1).sum()
    distinct = rows.drop_duplicates("image_id")
    pairs = sum(
        1 for (_, a), (_, b) in itertools.combinations(distinct.iterrows(), 2)
        if hamming(a["phash"], b["phash"]) <= gen.MAX_HAMMING
    )
    assert e["neardup(phash)"] == 2 * pairs >= 2 * len(image_plan.near)
    caps = image_plan.captions()
    ids, cap_ids = set(rows["image_id"]), set(caps["image_id"])
    assert e["referential"] == len(ids - cap_ids) + len(cap_ids - ids)
    bad = 0
    for r in rows.itertuples():
        p = row_params(int(r.image_id.split("_")[-1]))
        score = psnr(render_image(r.image_id, p["w"], p["h"]), decode_image(r.bytes, r.fmt))
        bad += not (score == float("inf") if r.fmt == "png" else score >= 40.0)
    assert e["row_invariant"] == bad == len(image_plan.bad)
    assert e["stats"] == 0 and e["drift(fmt)"] == 0


def test_expected_verdicts_sum_to_rule_counts(image_plan):
    verdicts = image_plan.expected_verdicts()
    totals: dict[str, int] = {}
    for k, (_, n) in verdicts.items():
        rule = k.split('"')[1]
        totals[rule] = totals.get(rule, 0) + n
    assert totals == image_plan.expected()
    rows = sum(v[0] for k, v in verdicts.items() if k.startswith('["schema"'))
    assert rows == image_plan.n_rows


def test_image_plan_is_seeded():
    a, b = gen.ImagePlan.make(4, 500), gen.ImagePlan.make(4, 500)
    assert a == b
    assert gen.ImagePlan.make(5, 500) != a
    faults = [a.dup, a.bad, a.null, a.near, a.dropped, a.mutated]
    flat = [i for f in faults for i in f]
    assert len(flat) == len(set(flat))  # disjoint


# ---------------------------------------------------------------------------
# phash table


def test_dedup_counts_match_brute_force():
    plan = gen.DedupPlan.make(2, 3000)
    u = plan.phash.view(np.uint64)
    pairs = set()
    for i in range(plan.n):
        x = u[i] ^ u[i + 1:]
        bits = np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
        for j in np.nonzero(bits <= gen.MAX_HAMMING)[0]:
            pairs.add((plan.ids[i], plan.ids[i + 1 + j]))
    e = plan.expected()
    assert e["pairs"] == len(pairs) >= e["planted_pairs"]
    comp = gen.components(pairs)
    assert e["clusters"] == len(set(comp.values())) == len(e["kept"])
    assert e["clustered_docs"] == len(comp)
    nb = dict(zip(plan.ids, plan.n_bytes.tolist()))
    for root, kept in e["kept"].items():
        members = [d for d, r in comp.items() if r == root]
        assert max(nb[d] for d in members) == nb[kept]


# ---------------------------------------------------------------------------
# buckets


def test_xxhash64_matches_spark():
    # Spark's xxhash64 of each string, as a signed long
    spark = {
        "": -7444071767201028348,
        "img_000123456789": -4350869792214651616,
        "near_000000000001": 1020403792902526133,
        "alien_7_000003": 5453841886788463442,
        "y" * 32: 5202031258905353636,
        "z" * 33: -8411362631970189001,
    }
    for key, want in spark.items():
        assert gen.xxhash64(key.encode()) == want % 2**64
        assert gen.bucket_of(key) == want % gen.NUM_BUCKETS
