"""Seeded input generators and the closed-form counts they imply.

Every generator derives ids, fault positions and sizes from ``seed``
alone, so one seed always gives the same tables. Each ``*Plan`` records
what was planted; its ``expected*`` methods give the counts the program
must report, computed from the plan and the generated row parameters,
never from the program's own output.

Three inputs:

* the image+caption table (``ImagePlan``): rows from
  ``datagen.make_row`` at a seed-chosen id offset, with disjoint sets
  of duplicated ids, corrupted pixels, null dimensions and near-dup
  phash re-emits; a captions table with dropped, alien and mutated
  rows. Both tables are written without Spark, partitioned by
  ``bucket = pmod(xxhash64(image_id), 16)`` (``bucket_of`` computes
  Spark's ``xxhash64`` in Python).
* four CSV asset registers (``AssetPlan``) with key case and
  whitespace variants, missing rows, conflicting cells, ragged rows,
  value case variants, a header case variant and one renamed column.
* a metadata-only phash table (``DedupPlan``) with planted near-dup
  clusters among random singletons.
"""

from __future__ import annotations

import itertools
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

NUM_BUCKETS = 16
FMT_REFERENCE = {"png": 0.5, "jpeg": 0.4, "webp": 0.1}
# NearDuplicateRule / phash_neardup_pairs defaults
MAX_HAMMING = 3
BANDS = 4

_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned int: Spark's ``xxhash64`` of a
    string value (seed 42), read as two's complement."""
    n, i = len(data), 0

    def word(k: int) -> int:
        return int.from_bytes(data[i:i + k], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], word(8))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(8)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(key: str) -> int:
    """The program's bucket of a key, ``pmod(xxhash64(key), NUM_BUCKETS)``:
    2**64 is a multiple of ``NUM_BUCKETS``, so the unsigned hash leaves
    the same remainder."""
    return xxhash64(key.encode("utf-8")) % NUM_BUCKETS


def _popcount(x: np.ndarray) -> np.ndarray:
    table = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    b = np.ascontiguousarray(x, dtype=np.uint64).view(np.uint8).reshape(-1, 8)
    return table[b].sum(axis=1)


def _bands(phashes: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """The hashes as uint64 and their ``BANDS`` band values, as
    ``phash_neardup_pairs`` splits them."""
    u = np.asarray(phashes, dtype=np.int64).view(np.uint64)
    width = 64 // BANDS
    mask = np.uint64((1 << width) - 1)
    return u, [(u >> np.uint64(b * width)) & mask for b in range(BANDS)]


def near_pairs(ids: list[str], phashes: np.ndarray) -> set[tuple[str, str]]:
    """Distinct id pairs (a < b) whose phashes differ in at most
    ``MAX_HAMMING`` bits. Exact by the pigeonhole principle
    (``MAX_HAMMING < BANDS``): such a pair agrees on at least one band."""
    u, bands = _bands(phashes)
    out: set[tuple[str, str]] = set()
    idx = np.arange(len(u))
    for bv in bands:
        df = pd.DataFrame({"bv": bv, "i": idx})
        m = df.merge(df, on="bv")
        m = m[m["i_x"] < m["i_y"]]
        ia, ib = m["i_x"].to_numpy(), m["i_y"].to_numpy()
        keep = _popcount(u[ia] ^ u[ib]) <= MAX_HAMMING
        for a, c in zip(ia[keep], ib[keep]):
            x, y = ids[a], ids[c]
            if x != y:
                out.add((x, y) if x < y else (y, x))
    return out


def max_band_bucket(phashes: np.ndarray) -> int:
    return max(int(np.unique(bv, return_counts=True)[1].max()) for bv in _bands(phashes)[1])


def components(pairs: set[tuple[str, str]]) -> dict[str, str]:
    """node -> minimum node id of its connected component (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


# ---------------------------------------------------------------------------
# image + caption table


@dataclass
class ImagePlan:
    seed: int
    n: int
    offset: int
    dup: list[int]
    bad: list[int]
    null: list[int]
    near: list[int]
    dropped: list[int]
    mutated: list[int]
    n_alien: int

    @classmethod
    def make(cls, seed: int, n: int) -> "ImagePlan":
        rng = np.random.default_rng([seed, 1])
        k = max(2, n // 250)
        perm = rng.permutation(n).tolist()
        sets = [sorted(perm[i * k:(i + 1) * k]) for i in range(6)]
        return cls(
            seed=seed, n=n, offset=int(rng.integers(0, 10**9)),
            dup=sets[0], bad=sets[1], null=sets[2], near=sets[3],
            dropped=sets[4], mutated=sets[5], n_alien=k,
        )

    def image_id(self, i: int) -> str:
        return f"img_{self.offset + i:012d}"

    @property
    def n_rows(self) -> int:
        return self.n + len(self.dup) + len(self.near)

    def emitted(self) -> list[tuple[str, int]]:
        """(image_id, logical row) of every image row, in table order:
        base rows, then duplicate re-emits, then near-dup re-emits."""
        return ([(self.image_id(i), i) for i in list(range(self.n)) + self.dup]
                + [(f"near_{self.offset + i:012d}", i) for i in self.near])

    def rows(self, lo: int, hi: int) -> pd.DataFrame:
        """Image rows ``[lo, hi)`` of the table."""
        from assetdatavalidationtool_spark.datagen import IMAGES_SCHEMA, make_row

        bad, null = set(self.bad), set(self.null)
        out = []
        for key, i in self.emitted()[lo:hi]:
            row = make_row(self.offset + i, corrupt_pixels=i in bad)
            if i in null:
                row["w"] = row["h"] = None
            if key.startswith("near_"):
                row["image_id"] = key
                u = (row["phash"] ^ 0b1011) & ((1 << 64) - 1)
                row["phash"] = u - (1 << 64) if u >= (1 << 63) else u
            out.append(row)
        return pd.DataFrame(out, columns=[f.name for f in IMAGES_SCHEMA.fields])

    def captions(self) -> pd.DataFrame:
        from assetdatavalidationtool_spark.datagen import row_params

        dropped, mutated = set(self.dropped), set(self.mutated)
        ids, caps = [], []
        for i in range(self.n):
            if i in dropped:
                continue
            cap = row_params(self.offset + i)["caption"]
            ids.append(self.image_id(i))
            caps.append(cap + " [mutated]" if i in mutated else cap)
        for a in range(self.n_alien):
            ids.append(f"alien_{self.seed}_{a:06d}")
            caps.append(f"alien caption {a}")
        return pd.DataFrame({"image_id": ids, "caption": caps})

    def violations(self) -> tuple[dict[str, list[str]], dict[str, int], int]:
        """Planted violations of ``run_validation.default_rules``: the
        violating key of every violation row for bucket-aligned rules,
        the row count for global rules, and the image row count."""
        from assetdatavalidationtool_spark.datagen import row_params

        params = [row_params(self.offset + i) for i in range(self.n)]
        emitted = self.emitted()
        near = emitted[self.n + len(self.dup):]
        null = set(self.null)
        extreme = [
            key for key, i in emitted if i not in null
            and (params[i]["w"] > 4 * params[i]["h"] or params[i]["h"] > 4 * params[i]["w"])
        ]
        ph = np.array([params[i]["phash"] for _, i in emitted], dtype=np.int64)
        ph[self.n + len(self.dup):] ^= 0b1011
        assert max_band_bucket(ph) <= 1000, "neardup mega-bucket guard would trip"
        fmts: dict[str, int] = {}
        for _, i in emitted:
            fmts[params[i]["fmt"]] = fmts.get(params[i]["fmt"], 0) + 1
        nulls = [self.image_id(i) for i in self.null]
        aligned = {
            "schema": nulls * 2,
            "gate": nulls + extreme,
            "header_consistency": nulls,
            "uniqueness(image_id)": [self.image_id(i) for i in self.dup],
            "referential": [self.image_id(i) for i in self.dropped]
            + [f"alien_{self.seed}_{a:06d}" for a in range(self.n_alien)]
            + [key for key, _ in near],
            "row_invariant": [self.image_id(i) for i in self.bad],
        }
        counts = np.unique(ph, return_counts=True)[1]
        global_ = {
            "uniqueness(phash)": int((counts > 1).sum()),
            "neardup(phash)": 2 * len(near_pairs([k for k, _ in emitted], ph)),
            "stats": 0,
            "drift(fmt)": _drift_violations(fmts),
        }
        return aligned, global_, len(emitted)

    def expected(self) -> dict[str, int]:
        """Violation rows per rule."""
        aligned, global_, _ = self.violations()
        return {**{r: len(keys) for r, keys in aligned.items()}, **global_}

    def expected_verdicts(self) -> dict[str, list[int]]:
        """``ValidationRun.verdicts()`` as ``{json [rule, bucket]:
        [rows_scanned, violation_count]}``."""
        aligned, global_, n_rows = self.violations()
        rows: dict[int, int] = {}
        for key, _ in self.emitted():
            b = bucket_of(key)
            rows[b] = rows.get(b, 0) + 1
        out = {}
        for rule, keys in aligned.items():
            vio: dict[int, int] = {}
            for key in keys:
                b = bucket_of(key)
                vio[b] = vio.get(b, 0) + 1
            for b, n in rows.items():
                out[json.dumps([rule, b])] = [n, vio.get(b, 0)]
        for rule, n in global_.items():
            out[json.dumps([rule, -1])] = [n_rows, n]
        return out


def _drift_violations(counts: dict[str, int], ks_max: float = 0.1,
                      psi_max: float = 0.2) -> int:
    """KS and PSI of the fmt mix against FMT_REFERENCE (DriftRule's
    default thresholds): one violation per statistic over its limit."""
    n = sum(counts.values())
    ks = psi = c_cdf = r_cdf = 0.0
    for b in sorted(set(counts) | set(FMT_REFERENCE)):
        p, q = counts.get(b, 0) / n, FMT_REFERENCE.get(b, 0.0)
        c_cdf, r_cdf = c_cdf + p, r_cdf + q
        ks = max(ks, abs(c_cdf - r_cdf))
        psi += (p - q) * np.log((p + 1e-6) / (q + 1e-6))
    return int(ks > ks_max) + int(psi > psi_max)


def write_images(plan: ImagePlan, root: str) -> None:
    """Generate both tables without Spark, in up to 4 processes, and
    write ``root/images`` and ``root/captions`` partitioned by ``bucket``
    (one file per bucket), and ``root/expected.json``, the verdicts the
    plan implies."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from assetdatavalidationtool_spark.datagen import CAPTIONS_SCHEMA, IMAGES_SCHEMA

    workers = min(4, len(os.sched_getaffinity(0)))
    step = -(-plan.n_rows // (4 * workers))
    starts = range(0, plan.n_rows, step)
    # forked, so no resource tracker outlives the pool: called from a
    # process that runs no other thread (workloads.cached)
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
        images = pd.concat(pool.map(plan.rows, starts, [lo + step for lo in starts]),
                           ignore_index=True)
    bucket = pa.field("bucket", pa.int32())
    for df, schema, name in ((images, IMAGES_SCHEMA, "images"),
                             (plan.captions(), CAPTIONS_SCHEMA, "captions")):
        df["bucket"] = [bucket_of(k) for k in df["image_id"]]
        table = pa.Table.from_pandas(df, schema=to_arrow_schema(schema).append(bucket),
                                     preserve_index=False)
        pq.write_to_dataset(table, os.path.join(root, name), partition_cols=["bucket"])
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(plan.expected_verdicts(), f)


# ---------------------------------------------------------------------------
# CSV asset registers

SOURCES = ("Baseline", "CMDB", "Discovery", "Finance")
KEY = "AssetId"
COMMON = ("Hostname", "Status")  # in all four registers
HEADERS = {
    "Baseline": ("AssetId", "Hostname", "Owner", "Status"),
    "CMDB": ("AssetId", "Hostname", "Owner", "Status"),
    # header case variant: column matching is case-insensitive
    "Discovery": ("AssetId", "HOSTNAME", "owner", "status"),
    # renamed column: only field mapping can pair Custodian with Owner
    "Finance": ("AssetId", "Hostname", "Custodian", "Status"),
}
_FAULTS = ("missing", "conflict", "ragged", "key_case", "key_space", "value_case")


@dataclass
class AssetPlan:
    seed: int
    n: int
    offset: int
    faults: dict[str, dict[str, list[int]]]  # source -> fault -> keys

    @classmethod
    def make(cls, seed: int, n: int) -> "AssetPlan":
        rng = np.random.default_rng([seed, 2])
        k = max(1, n // 200)
        assert len(SOURCES) * len(_FAULTS) * k <= n
        perm = rng.permutation(n).tolist()
        faults: dict[str, dict[str, list[int]]] = {s: {} for s in SOURCES}
        for j, (s, f) in enumerate(itertools.product(SOURCES, _FAULTS)):
            faults[s][f] = sorted(perm[j * k:(j + 1) * k])
        return cls(seed=seed, n=n, offset=int(rng.integers(0, 10**6)), faults=faults)

    @property
    def k(self) -> int:
        return len(self.faults[SOURCES[0]]["missing"])

    def key(self, j: int) -> str:
        return f"AST-{self.offset + j:07d}"

    def values(self, j: int) -> list[str]:
        return [self.key(j), f"host-{j:06d}", f"owner-{j % 97:02d}",
                ("active", "retired", "stock")[j % 3]]

    def csv_text(self, source: str) -> str:
        f = {name: set(v) for name, v in self.faults[source].items()}
        rng = np.random.default_rng([self.seed, 3, SOURCES.index(source)])
        lines = []
        for j in rng.permutation(self.n).tolist():
            if j in f["missing"]:
                continue
            v = self.values(j)
            if j in f["conflict"]:
                v[(1, 3)[j % 2]] = f"alt-{source.lower()}-{j}"  # a COMMON column
            if j in f["key_case"]:
                v[0] = v[0].lower()
            if j in f["key_space"]:
                v[0] = f"  {v[0]} "
            if j in f["value_case"]:
                v[1] = v[1].upper()
            if j in f["ragged"]:
                v = v[:-1]  # drops Status, a COMMON column
            lines.append(",".join(v))
        return ",".join(HEADERS[source]) + "\n" + "\n".join(lines) + "\n"

    def expected(self) -> dict[str, int]:
        """Report row counts. Fault keys are disjoint, so each fault adds
        to the counts on its own: a missing key is a MissingByFile row; a
        conflicting or ragged cell is one Conflicts row and one mismatch
        cell against the baseline (from either side); a key missing from
        one side of a baseline pair mismatches in every column."""
        k, n_src, width = self.k, len(SOURCES), len(HEADERS["Baseline"])
        per_other = 2 * width * k + 2 * k + 2 * k
        return {
            "KeyPresence": self.n,
            "MatchesAll": self.n - n_src * k,
            "MissingByFile": n_src * k,
            "Conflicts": n_src * k + n_src * k,
            "Deltas": (n_src - 1) * per_other,
            "DeltasSummary": n_src,
            "deltas_per_source": per_other,
        }


def write_assets(plan: AssetPlan, root: str) -> None:
    for s in SOURCES:
        with open(os.path.join(root, f"{s}.csv"), "w", encoding="utf-8") as fh:
            fh.write(plan.csv_text(s))


# ---------------------------------------------------------------------------
# near-dup phash table


@dataclass
class DedupPlan:
    seed: int
    n: int
    offset: int
    ids: list[str]
    phash: np.ndarray
    n_bytes: np.ndarray
    planted: list[list[int]]

    @classmethod
    def make(cls, seed: int, n: int) -> "DedupPlan":
        rng = np.random.default_rng([seed, 4])
        offset = int(rng.integers(0, 10**8))
        phash = rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)
        n_bytes = rng.integers(1_000, 100_000, size=n)
        # planted clusters over a random tenth of the rows: a centre and
        # 1-5 members, each one distinct bit away from the centre, so
        # every pair in a cluster is within Hamming 2
        perm = rng.permutation(n).tolist()
        planted, pos = [], 0
        while pos < n // 10:
            size = int(rng.integers(2, 7))
            members = perm[pos:pos + size]
            pos += size
            bits = rng.choice(64, size=len(members) - 1, replace=False)
            u = phash.view(np.uint64)
            for m, bit in zip(members[1:], bits):
                u[m] = u[members[0]] ^ np.uint64(1 << int(bit))
            planted.append(members)
        ids = [f"d_{offset + i:09d}" for i in range(n)]
        return cls(seed, n, offset, ids, phash, n_bytes, planted)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({"image_id": self.ids, "phash": self.phash,
                             "n_bytes": self.n_bytes})

    def expected(self) -> dict:
        assert max_band_bucket(self.phash) <= 200, "phash mega-bucket guard would trip"
        pairs = near_pairs(self.ids, self.phash)
        comp = components(pairs)
        members: dict[str, list[str]] = {}
        for node, root in comp.items():
            members.setdefault(root, []).append(node)
        nb = dict(zip(self.ids, self.n_bytes.tolist()))
        kept = {
            root: min(ms, key=lambda d: (-nb[d], d)) for root, ms in members.items()
        }
        return {
            "pairs": len(pairs),
            "planted_pairs": sum(len(c) * (len(c) - 1) // 2 for c in self.planted),
            "clustered_docs": len(comp),
            "clusters": len(members),
            "kept": kept,
        }


def write_dedup(plan: DedupPlan, root: str) -> None:
    """``root/docs``, the phash table, and ``root/expected.json``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "docs"))
    pq.write_table(pa.Table.from_pandas(plan.frame(), preserve_index=False),
                   os.path.join(root, "docs", "part-0.parquet"))
    e = plan.expected()
    e["kept"] = sorted(e["kept"].items())
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(e, f)
