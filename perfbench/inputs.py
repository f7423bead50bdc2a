"""Seeded input generators. The program under test receives only the files
written here; every answer the benchmark checks is either derived from the
generator's own bookkeeping (release) or computed by the DuckDB oracles over
the same files (query workloads).

Two input families:

- `write_star_schema`: the ten-table star schema the registry queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings), one parquet file per table, with the column types and value
  distributions of the reference test data. Near-duplicate documents (an
  earlier text plus " dup") are injected at 5% so the dedup operators have
  true pairs to find.
- `write_release_sources`: GTEx-shaped subjects / samples / restricted TSVs
  for the release lifecycle, with a known number of dangling samples and of
  restricted-vs-public AGE conflicts, and the exact consent-group sizes.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the"
    " value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def dir_digest(path: str) -> str:
    """sha256 over the sorted (relative name, bytes) of a directory."""
    h = hashlib.sha256()
    for full in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(full):
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(
    out_dir: str, seed: int, sf: float, n_documents: int, n_embeddings: int
) -> None:
    """Write the star schema at scale factor `sf` (lineitem = 6M * sf rows)
    into `out_dir/<table>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US),
    })
    gaps = np.maximum(rng.exponential(26e6, n_ev).astype(np.int64), 1)
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_documents):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(np.arange(n_documents), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_documents, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_documents)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_embeddings, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_embeddings), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_embeddings), pa.int32()),
    })


AGES = ["20-29", "30-39", "40-49", "50-59", "60-69"]
TISSUES = [
    "Adipose", "Blood", "Brain", "Colon", "Heart",
    "Liver", "Lung", "Muscle", "Nerve", "Skin",
]


@dataclass
class ReleaseSources:
    """Paths of the generated TSVs and the answers the release must give."""

    subjects_tsv: str
    samples_tsv: str
    restricted_tsv: str
    n_subjects: int
    n_samples: int  # rows in samples.tsv, dangling ones included
    n_dangling: int
    n_conflicts: int
    group_sizes: dict[str, int]  # CONSENT -> subject count

    @property
    def n_linked(self) -> int:
        return self.n_samples - self.n_dangling

    def rows_in(self, path: str) -> int:
        return {
            self.subjects_tsv: self.n_subjects,
            self.samples_tsv: self.n_samples,
            self.restricted_tsv: self.n_subjects,
        }[path]


def _subject_ids(rng: np.random.Generator, n: int, prefix: str) -> list[str]:
    """Distinct GTEX-<base36> ids (the SUBJID regex admits [A-Z0-9]+),
    shuffled so the files are not sorted by key."""
    digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    out = []
    for k in rng.permutation(n):
        s, k = "", int(k) + 36**3
        while k:
            k, r = divmod(k, 36)
            s = digits[r] + s
        out.append(f"GTEX-{prefix}{s}")
    return out


def write_release_sources(
    out_dir: str,
    seed: int,
    n_subjects: int,
    samples_per_subject: int,
    n_dangling: int,
    n_conflicts: int,
    n_consents: int = 3,
) -> ReleaseSources:
    """Write subjects.tsv, samples.tsv and restricted.tsv into `out_dir`.

    Every subject has a restricted row (so every subject lands in a consent
    group); `n_conflicts` of them carry a different AGE there, which the
    restricted merge must report. `n_dangling` samples name subjects that
    are absent from subjects.tsv (prefix Z, never used for real subjects).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = _subject_ids(rng, n_subjects, "")
    sex = rng.integers(1, 3, n_subjects)
    age = rng.integers(0, len(AGES), n_subjects)
    consent = rng.integers(1, n_consents + 1, n_subjects)
    conflict = np.zeros(n_subjects, bool)
    conflict[rng.choice(n_subjects, n_conflicts, replace=False)] = True
    r_age = np.where(conflict, (age + 1) % len(AGES), age)

    subjects_tsv = os.path.join(out_dir, "subjects.tsv")
    with open(subjects_tsv, "w") as f:
        f.write("SUBJID\tSEX\tAGE\n")
        f.writelines(
            f"{s}\t{x}\t{AGES[a]}\n" for s, x, a in zip(ids, sex, age)
        )
    restricted_tsv = os.path.join(out_dir, "restricted.tsv")
    order = rng.permutation(n_subjects)
    with open(restricted_tsv, "w") as f:
        f.write("SUBJID\tCONSENT\tAGE\n")
        f.writelines(
            f"{ids[i]}\t{consent[i]}\t{AGES[r_age[i]]}\n" for i in order
        )

    owners = np.repeat(np.arange(n_subjects), samples_per_subject)
    seq = np.tile(np.arange(1, samples_per_subject + 1), n_subjects)
    sample_ids = [f"{ids[o]}-{q:04d}" for o, q in zip(owners, seq)]
    ghosts = _subject_ids(rng, n_dangling, "Z")
    sample_ids += [f"{g}-0001" for g in ghosts]
    n_samples = len(sample_ids)
    tissue = rng.integers(0, len(TISSUES), n_samples)
    rin = rng.integers(10, 100, n_samples)
    samples_tsv = os.path.join(out_dir, "samples.tsv")
    with open(samples_tsv, "w") as f:
        f.write("SAMPID\tSMTS\tSMRIN\n")
        f.writelines(
            f"{sample_ids[i]}\t{TISSUES[tissue[i]]}\t{rin[i] / 10:.1f}\n"
            for i in rng.permutation(n_samples)
        )

    sizes = np.bincount(consent, minlength=n_consents + 1)
    return ReleaseSources(
        subjects_tsv=subjects_tsv,
        samples_tsv=samples_tsv,
        restricted_tsv=restricted_tsv,
        n_subjects=n_subjects,
        n_samples=n_samples,
        n_dangling=n_dangling,
        n_conflicts=n_conflicts,
        group_sizes={str(c): int(sizes[c]) for c in range(1, n_consents + 1)},
    )
