"""Seeded, vectorized input generators, one per workload.

Each generator takes the seed as an argument, writes only the input files
the program reads, and returns the in-memory arrays the output checks
need.  The same (seed, parameters) always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MU_FIELDS = ("pt", "eta", "phi", "charge", "pfRelIso04_all", "mediumId", "fsrPhotonIdx")
JET_FIELDS = ("pt", "eta", "phi", "mass", "jetId", "qgl")
FSR_FIELDS = ("pt", "eta", "phi")
EV_FLAT = ("run", "event", "genWeight", "HLT_IsoMu24", "Flag_goodVertices",
           "MET_pt", "Pileup_nTrueInt")
BRANCHES = list(EV_FLAT) + [
    f"{coll}_{f}"
    for coll, fields in (("Muon", MU_FIELDS), ("Jet", JET_FIELDS), ("FsrPhoton", FSR_FIELDS))
    for f in fields
]


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _u(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform doubles rounded to 4 decimals, as NanoAOD-like fixtures are."""
    return np.round(rng.uniform(lo, hi, n), 4)


# ---------------------------------------------------------------------------
# root_to_templates: NanoAOD-layout jagged ROOT files
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RootSpec:
    n_events: int = 40_000
    n_files: int = 4
    basket_entries: int = 8192
    zlib_level: int = 1
    # P(n muons = k) for k = 0, 1, 2, ...: the share of two-muon events
    # sets the selection rate of the random (background-like) events
    muon_multiplicity: tuple[float, ...] = (0.10, 0.15, 0.60, 0.10, 0.05)
    # share of events given exactly one opposite-sign muon pair that
    # passes the muon cuts, with its mass drawn uniformly in the template
    # window [MASS_LO, MASS_HI): it sets the row count of stages 2 and 3
    pair_share: float = 0.1


MASS_LO, MASS_HI = 76.0, 150.0


@dataclass
class RootEvents:
    """Column arrays of the generated events: flat branches one value per
    event, jagged collections as (counts, {field: values})."""

    flat: dict[str, np.ndarray]
    counts: dict[str, np.ndarray]
    jagged: dict[str, dict[str, np.ndarray]]
    paths: list[str] = field(default_factory=list)


def make_events(spec: RootSpec, seed: int) -> RootEvents:
    rng = np.random.default_rng([seed, 1])
    n = spec.n_events
    p = np.asarray(spec.muon_multiplicity, dtype=np.float64)
    n_mu = rng.choice(len(p), size=n, p=p / p.sum()).astype(np.int32)
    planted = np.flatnonzero(rng.uniform(0, 1, n) < spec.pair_share)
    n_mu[planted] = 2
    n_fsr = rng.integers(0, 3, n).astype(np.int32)
    n_jet = rng.integers(0, 6, n).astype(np.int32)

    m = int(n_mu.sum())
    fsr_of_mu = np.repeat(n_fsr, n_mu)
    fidx = np.where(
        fsr_of_mu > 0,
        np.floor(rng.uniform(0, 1, m) * (fsr_of_mu + 1)).astype(np.int32) - 1,
        -1,
    ).astype(np.int32)
    muon = {
        "pt": _u(rng, 15, 120, m),
        "eta": _u(rng, -2.6, 2.6, m),
        "phi": _u(rng, -np.pi, np.pi, m),
        "charge": np.where(rng.uniform(0, 1, m) < 0.5, -1, 1).astype(np.int32),
        "pfRelIso04_all": _u(rng, 0, 0.5, m),
        "mediumId": rng.uniform(0, 1, m) < 0.9,
        "fsrPhotonIdx": fidx,
    }
    _plant_pairs(rng, muon, np.concatenate([[0], np.cumsum(n_mu)])[planted])
    j = int(n_jet.sum())
    jet = {
        "pt": _u(rng, 20, 300, j),
        "eta": _u(rng, -4.7, 4.7, j),
        "phi": _u(rng, -np.pi, np.pi, j),
        "mass": _u(rng, 5, 40, j),
        "jetId": np.array([0, 2, 6], dtype=np.int32)[rng.integers(0, 3, j)],
        "qgl": _u(rng, -1, 1, j),
    }
    f = int(n_fsr.sum())
    fsr = {
        "pt": _u(rng, 1, 10, f),
        "eta": _u(rng, -2.4, 2.4, f),
        "phi": _u(rng, -np.pi, np.pi, f),
    }
    # each file is one dataset: run number = file index + 1
    run = np.repeat(np.arange(1, spec.n_files + 1, dtype=np.int64),
                    np.diff(_file_bounds(n, spec.n_files)))
    sign = np.where(rng.uniform(0, 1, n) < 0.05, -1.0, 1.0)
    flat = {
        "run": run,
        "event": np.arange(n, dtype=np.int64),
        "genWeight": np.round(sign * rng.uniform(0.5, 1.5, n), 4),
        "HLT_IsoMu24": rng.uniform(0, 1, n) < 0.95,
        "Flag_goodVertices": rng.uniform(0, 1, n) < 0.98,
        "MET_pt": _u(rng, 0, 150, n),
        "Pileup_nTrueInt": _u(rng, 10, 60, n),
    }
    return RootEvents(
        flat=flat,
        counts={"Muon": n_mu, "Jet": n_jet, "FsrPhoton": n_fsr},
        jagged={"Muon": muon, "Jet": jet, "FsrPhoton": fsr},
    )


def _pair_kinematics(rng: np.random.Generator, k: int):
    """``k`` muon pairs (pt1, eta1, phi1, pt2, eta2, phi2) with the
    massless pair mass uniform in [MASS_LO, MASS_HI): pts in [30, 100],
    dPhi in [pi/2, pi], and |dEta| solved from the mass, kept <= 4 so
    both |eta| stay < 2.2.  Candidates are drawn in batches and the first
    ``k`` valid ones kept, so the result depends only on the seed."""
    got: list[np.ndarray] = []
    have = 0
    while have < k:
        b = 8 * (k - have) + 64
        m = rng.uniform(MASS_LO, MASS_HI, b)
        pt1, pt2 = rng.uniform(30, 100, b), rng.uniform(30, 100, b)
        dphi = rng.uniform(np.pi / 2, np.pi, b)
        ch = np.cos(dphi) + m * m / (2 * pt1 * pt2)
        deta = np.arccosh(np.maximum(ch, 1.0))
        centre = rng.uniform(-1, 1, b) * (2.2 - deta / 2)
        phi1 = rng.uniform(-np.pi, np.pi, b)
        phi2 = np.mod(phi1 + dphi + np.pi, 2 * np.pi) - np.pi
        cand = np.stack([pt1, centre + deta / 2, phi1, pt2, centre - deta / 2, phi2])
        ok = (ch >= 1.0) & (deta <= 4.0)
        got.append(cand[:, ok])
        have += int(ok.sum())
    return np.round(np.concatenate(got, axis=1)[:, :k], 4)


def _plant_pairs(rng: np.random.Generator, muon: dict, first: np.ndarray) -> None:
    """Overwrite the two muons starting at each index of ``first`` with an
    opposite-sign pair that passes the muon cuts (no FSR photon)."""
    k = len(first)
    pt1, eta1, phi1, pt2, eta2, phi2 = _pair_kinematics(rng, k)
    q = np.where(rng.uniform(0, 1, k) < 0.5, -1, 1).astype(np.int32)
    for idx, pt, eta, phi, charge in ((first, pt1, eta1, phi1, q), (first + 1, pt2, eta2, phi2, -q)):
        muon["pt"][idx] = pt
        muon["eta"][idx] = eta
        muon["phi"][idx] = phi
        muon["charge"][idx] = charge
        muon["pfRelIso04_all"][idx] = _u(rng, 0, 0.2, k)
        muon["mediumId"][idx] = True
        muon["fsrPhotonIdx"][idx] = -1


def _file_bounds(n: int, n_files: int) -> np.ndarray:
    return np.linspace(0, n, n_files + 1).astype(np.int64)


def write_root_files(ev: RootEvents, spec: RootSpec, out_dir: str) -> list[str]:
    """Split the events into ``n_files`` contiguous ROOT files (zlib)."""
    from copperhead_spark.sources.rootio import write_tree

    _fresh(out_dir)
    bounds = _file_bounds(len(ev.flat["event"]), spec.n_files)
    offs = {c: np.concatenate([[0], np.cumsum(k)]) for c, k in ev.counts.items()}
    paths = []
    for i in range(spec.n_files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        columns = {k: v[lo:hi] for k, v in ev.flat.items()}
        jagged = {}
        for coll, fields in ev.jagged.items():
            cname = f"n{coll}"
            columns[cname] = ev.counts[coll][lo:hi]
            vlo, vhi = int(offs[coll][lo]), int(offs[coll][hi])
            for fname, vals in fields.items():
                jagged[f"{coll}_{fname}"] = (cname, vals[vlo:vhi])
        path = os.path.join(out_dir, f"nano_{i:02d}.root")
        write_tree(path, "Events", columns, jagged,
                   basket_entries=spec.basket_entries, compress=spec.zlib_level)
        paths.append(path)
    ev.paths = paths
    return paths


def gen_root(spec: RootSpec, seed: int, out_dir: str) -> RootEvents:
    ev = make_events(spec, seed)
    write_root_files(ev, spec, out_dir)
    return ev


# ---------------------------------------------------------------------------
# corpus_dedup: documents with planted near-duplicate clusters
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 8_000
    dup_share: float = 0.5  # share of documents that are edited copies
    edit_rate: float = 0.03  # share of a copy's words replaced
    # words drawn uniformly, as in the repository's test corpus; 5,000
    # words rather than its 31, whose 5-character shingles nearly every
    # pair of documents shares (README.md, "Workloads")
    vocab: int = 5_000
    min_words: int = 20
    max_words: int = 80


def _words(rng: np.random.Generator, vocab: int) -> np.ndarray:
    """``vocab`` distinct lowercase pseudo-words of 3-9 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < vocab:
        lens = rng.integers(3, 10, vocab)
        codes = letters[rng.integers(0, 26, (vocab, 9))]
        for k, row in zip(lens, codes):
            w = row[:k].tobytes().decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
    return np.array(out[:vocab], dtype=object)


def gen_corpus(spec: CorpusSpec, seed: int, out_dir: str) -> pa.Table:
    """Write ``documents.parquet`` (doc_id, text, n_chars); returns it.

    Originals are random word sequences; each copy picks an original and
    replaces ``edit_rate`` of its words, so copies of one original form a
    planted near-duplicate cluster."""
    rng = np.random.default_rng([seed, 3])
    words = _words(rng, spec.vocab)
    n = spec.n_docs
    n_dup = int(n * spec.dup_share)
    n_orig = n - n_dup
    lens = rng.integers(spec.min_words, spec.max_words + 1, n_orig)
    offs = np.concatenate([[0], np.cumsum(lens)])
    toks = rng.integers(0, spec.vocab, int(offs[-1]))
    src = rng.integers(0, n_orig, n_dup)
    # copies, edited: every token replaced with probability edit_rate
    dup_lens = lens[src]
    dup_toks = np.concatenate([toks[offs[s]:offs[s + 1]] for s in src]) if n_dup else toks[:0]
    edit = rng.uniform(0, 1, len(dup_toks)) < spec.edit_rate
    dup_toks = np.where(edit, rng.integers(0, spec.vocab, len(dup_toks)), dup_toks)
    all_lens = np.concatenate([lens, dup_lens])
    all_toks = np.concatenate([toks, dup_toks])
    all_offs = np.concatenate([[0], np.cumsum(all_lens)])
    wtoks = words[all_toks]
    texts = [" ".join(wtoks[all_offs[i]:all_offs[i + 1]]) for i in range(n)]
    # shuffle so clusters are spread over doc_ids and partitions
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    _fresh(out_dir)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return table
