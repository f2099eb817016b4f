"""Output checks, each computed apart from the program.

- root_to_templates, stage 1: a NumPy mirror of stage 1 written from the
  selection spec (pipeline.py's docstring and the reference walk-through
  it cites).
- root_to_templates, stages 2 and 3: DuckDB runs the channel cascade as SQL CASE and the
  SQL twins of the bin, MVA and exact-sum expressions over the same
  Parquet; the TH1 read-back, the datacard and the fit health are checked
  against those histograms.
- corpus_dedup: DuckDB's MinHash SQL re-derives a seeded sample of the
  signatures; Python banding, union-find and the argmax rebuild the kept
  corpus from the collected signatures.

Each ``check_*`` returns a list of failure messages (empty = correct).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

MU_MASS = 0.105658
TWO_PI = 6.283185307179586
PI = 3.141592653589793
RTOL = ATOL = 1e-12


def parquet_rows(path: str) -> tuple:
    """((dataset dir, rows), ...) from the Parquet footers alone."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                rows = pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
                key = os.path.basename(root)
                out[key] = out.get(key, 0) + rows
    return tuple(sorted(out.items()))


def frame_digest(df) -> tuple:
    return tuple(sorted(tuple(r) for r in df.itertuples(index=False)))


# ---------------------------------------------------------------------------
# stage 1: NumPy mirror
# ---------------------------------------------------------------------------


def _wrap(d):
    return d - TWO_PI * np.floor((d + PI) / TWO_PI)


def _pair(pt1, eta1, phi1, m1, pt2, eta2, phi2, m2):
    """Pair mass, pt, rapidity, dEta, dPhi, dR from (pt, eta, phi, m).

    Also returns, under ``tol_<name>``, the magnitude each of mass, pt and
    rapidity is computed from: those three difference large terms, so a
    last-digit difference between two libm implementations of cos, sin
    or exp grows by that factor.  The check scales its 1e-12 tolerance
    by it."""

    def p4(pt, eta, phi, m):
        px = pt * np.cos(phi)
        py = pt * np.sin(phi)
        pz = pt * ((np.exp(eta) - np.exp(-eta)) / 2)
        return px, py, pz, np.sqrt(px * px + py * py + pz * pz + m * m)

    ax, ay, az, ae = p4(pt1, eta1, phi1, m1)
    bx, by, bz, be = p4(pt2, eta2, phi2, m2)
    qx, qy, qz, qe = ax + bx, ay + by, az + bz, ae + be
    with np.errstate(invalid="ignore", divide="ignore"):
        mass = np.sqrt(np.maximum(qe * qe - qx * qx - qy * qy - qz * qz, 0.0))
        rap = 0.5 * np.log((qe + qz) / (qe - qz))
        tol_mass = qe * qe / mass
        tol_rap = (qe + np.abs(qz)) / (qe - np.abs(qz))
    deta = eta1 - eta2
    dphi = _wrap(phi1 - phi2)
    return {
        "mass": mass, "pt": np.sqrt(qx * qx + qy * qy), "rap": rap,
        "dEta": deta, "dPhi": dphi, "dR": np.sqrt(deta * deta + dphi * dphi),
        "tol_mass": tol_mass, "tol_rap": tol_rap,
        "tol_pt": np.abs(ax) + np.abs(bx) + np.abs(ay) + np.abs(by),
    }


def _sf(pt):
    return np.where(pt < 40, 0.9712, np.where(pt < 80, 0.9905, 0.9951))


def stage1_mirror(ev: gen.RootEvents) -> dict[str, np.ndarray]:
    """Selected events' output columns, in event order.  Missing jets are
    NaN."""
    f, cnt, jag = ev.flat, ev.counts, ev.jagged
    n = len(f["event"])
    trig = f["HLT_IsoMu24"] & f["Flag_goodVertices"]

    # muons: FSR recovery, then the selection cuts
    mu, n_mu = jag["Muon"], cnt["Muon"]
    mu_ev = np.repeat(np.arange(n), n_mu)
    fsr_off = np.concatenate([[0], np.cumsum(cnt["FsrPhoton"])])
    fidx = mu["fsrPhotonIdx"].astype(np.int64)
    has_fsr = (fidx >= 0) & (fidx < cnt["FsrPhoton"][mu_ev])
    fsr_pt = np.where(has_fsr, jag["FsrPhoton"]["pt"][np.where(has_fsr, fsr_off[mu_ev] + fidx, 0)], 0.0)
    pt_corr = mu["pt"] + fsr_pt * 0.1
    sel = (pt_corr > 20) & (np.abs(mu["eta"]) < 2.4) & (mu["pfRelIso04_all"] < 0.25) & mu["mediumId"]

    # exactly two selected muons of opposite charge
    nsel = np.bincount(mu_ev[sel], minlength=n)
    nneg = np.bincount(mu_ev[sel & (mu["charge"] < 0)], minlength=n)
    ok = trig & (nsel == 2) & (nneg % 2 == 1)
    s = np.flatnonzero(sel & ok[mu_ev])
    a, b = s[0::2], s[1::2]  # the two selected muons, in index order
    evs = mu_ev[a]
    # leading = higher corrected pt; the lower index wins a tie
    lead = np.where(pt_corr[b] > pt_corr[a], b, a)
    sub = np.where(lead == a, b, a)

    out: dict[str, np.ndarray] = {"event": f["event"][evs]}
    for k in ("run", "genWeight", "MET_pt", "Pileup_nTrueInt"):
        out[k] = f[k][evs]
    out["nmuons"] = np.full(len(evs), 2, dtype=np.int64)
    out["mm_charge"] = np.full(len(evs), -1, dtype=np.int32)
    for p, i in (("mu1_", lead), ("mu2_", sub)):
        out[p + "pt"] = pt_corr[i]
        for k in ("eta", "phi", "charge", "pfRelIso04_all"):
            out[p + k] = mu[k][i]
    dimu = _pair(out["mu1_pt"], out["mu1_eta"], out["mu1_phi"], MU_MASS,
                 out["mu2_pt"], out["mu2_eta"], out["mu2_phi"], MU_MASS)
    for k, v in dimu.items():
        out["dimuon_" + k] = v

    # jets: selection, then dR > 0.4 from both selected muons
    jet, n_jet = jag["Jet"], cnt["Jet"]
    jet_ev = np.repeat(np.arange(n), n_jet)
    jet_local = np.arange(len(jet_ev)) - np.repeat(np.concatenate([[0], np.cumsum(n_jet)])[:-1], n_jet)
    slot = np.full(n, -1)
    slot[evs] = np.arange(len(evs))
    js = slot[jet_ev]
    cand = (js >= 0) & (jet["pt"] > 25) & (np.abs(jet["eta"]) < 4.7) & (jet["jetId"] >= 2)
    near = np.zeros(len(jet_ev), dtype=bool)
    for p in ("mu1_", "mu2_"):
        de = jet["eta"] - out[p + "eta"][js]
        dp = _wrap(jet["phi"] - out[p + "phi"][js])
        near |= de * de + dp * dp < 0.16
    clean = np.flatnonzero(cand & ~near)
    out["njets"] = np.bincount(js[clean], minlength=len(evs)).astype(np.int64)
    order = clean[np.lexsort((jet_local[clean], -jet["pt"][clean], js[clean]))]
    first = np.concatenate([[True], js[order][1:] != js[order][:-1]])
    rank = np.arange(len(order)) - np.maximum.accumulate(np.where(first, np.arange(len(order)), 0))
    for p, r in (("jet1_", 0), ("jet2_", 1)):
        pick = order[rank == r]
        for k in ("pt", "eta", "phi", "mass", "qgl"):
            col = np.full(len(evs), np.nan)
            col[js[pick]] = jet[k][pick]
            out[p + k] = col
    jj = _pair(out["jet1_pt"], out["jet1_eta"], out["jet1_phi"], out["jet1_mass"],
               out["jet2_pt"], out["jet2_eta"], out["jet2_phi"], out["jet2_mass"])
    for k, v in jj.items():
        out["jj_" + k] = v

    m = out["dimuon_mass"]
    region = np.full(len(evs), "none", dtype=object)
    region[(m >= 110) & (m < 115) | (m >= 135) & (m < 150)] = "h-sidebands"
    region[(m >= 115) & (m < 135)] = "h-peak"
    region[(m > 76) & (m < 106)] = "z-peak"
    out["region"] = region
    s1, s2 = _sf(out["mu1_pt"]), _sf(out["mu2_pt"])
    g = out["genWeight"]
    out["wgt_nominal"] = g * s1 * s2
    out["wgt_muid_up"] = g * (s1 * 1.01) * (s2 * 1.01)
    out["wgt_muid_down"] = g * (s1 * 0.99) * (s2 * 0.99)
    keep = region != "none"
    return {k: v[keep] for k, v in out.items()}


def _close(got: np.ndarray, want: np.ndarray, scale: np.ndarray | None) -> np.ndarray:
    """Equal within 1e-12 of the value (or, where given, of the magnitude
    it is computed from); NaN matches NaN."""
    ref = np.abs(want) if scale is None else np.fmax(np.abs(want), np.abs(scale))
    with np.errstate(invalid="ignore"):
        near = np.abs(got - want) <= RTOL * ref + ATOL
    return (np.isnan(got) & np.isnan(want)) | near


def check_stage1(ev: gen.RootEvents, out_dir: str) -> list[str]:
    got = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table()
    got = got.sort_by("event")
    want = stage1_mirror(ev)
    errs = []
    if got["event"].to_numpy().tolist() != want["event"].tolist():
        return errs + [f"stage1: selected events differ ({got.num_rows} vs {len(want['event'])})"]
    datasets = np.array([f"ds{r:02d}" for r in want["run"]], dtype=object)
    if got["dataset"].to_pylist() != datasets.tolist():
        errs.append("stage1: dataset partition differs")
    for name, w in want.items():
        if name.startswith(("dimuon_tol_", "jj_tol_")):
            continue
        g = got[name].to_numpy(zero_copy_only=False)
        if w.dtype == object or w.dtype.kind in "iub":
            if g.tolist() != w.tolist():
                errs.append(f"stage1: column {name} differs")
            continue
        g = np.asarray(g, dtype=np.float64)
        prefix, _, var = name.partition("_")
        same = _close(g, w, want.get(f"{prefix}_tol_{var}"))
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            errs.append(f"stage1: column {name} differs at event {want['event'][i]}: {g[i]!r} vs {w[i]!r}")
    return errs


# ---------------------------------------------------------------------------
# stages 2 and 3: DuckDB SQL twins
# ---------------------------------------------------------------------------

CHANNEL_SQL = (
    "CASE WHEN njets >= 2 AND jj_mass > 400 THEN 'vbf' "
    "WHEN njets = 0 THEN 'ggh_0jets' "
    "WHEN njets = 1 THEN 'ggh_1jet' "
    "ELSE 'ggh_2orMoreJets' END"
)


def duck_histograms(in_dir: str):
    """(score histogram, variation histogram) as pandas frames."""
    import duckdb

    from copperhead_spark.functions.exact import exact_sum_sql
    from copperhead_spark.ml.inference import hmm_mva_sql
    from copperhead_spark.operators.histogram import bin_index_sql

    from workloads import HI, LO, NBINS, SCORE_HI, SCORE_LO, SCORE_NBINS

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW flat AS SELECT * FROM read_parquet("
            f"'{in_dir}/*/*.parquet', hive_partitioning = true)"
        )
        score = con.execute(f"""
            WITH s AS (
              SELECT region, {CHANNEL_SQL} AS channel, wgt_nominal,
                     ({hmm_mva_sql("event")}) AS score
              FROM flat)
            SELECT region, channel,
                   {bin_index_sql("score", SCORE_LO, SCORE_HI, SCORE_NBINS)} AS bin_idx,
                   {exact_sum_sql("wgt_nominal", 6)} AS value,
                   {exact_sum_sql("wgt_nominal * wgt_nominal", 12)} AS sumw2
            FROM s GROUP BY 1, 2, 3""").df()
        stacked = " UNION ALL ".join(
            f"SELECT region, {CHANNEL_SQL} AS channel, '{v}' AS variation, "
            f"dimuon_mass, wgt_{v} AS wgt FROM flat"
            for v in ("nominal", "muid_up", "muid_down")
        )
        var = con.execute(f"""
            SELECT region, channel, variation,
                   {bin_index_sql("dimuon_mass", LO, HI, NBINS)} AS bin_idx,
                   {exact_sum_sql("wgt", 6)} AS value,
                   {exact_sum_sql("wgt * wgt", 12)} AS sumw2
            FROM ({stacked}) GROUP BY 1, 2, 3, 4""").df()
    finally:
        con.close()
    return score, var


def fitted_part(hist):
    """The histogram rows stage 3 fits: nominal, signal region (h-peak)."""
    return hist[(hist.variation == "nominal") & (hist.region == "h-peak")]


def _fit_inputs(hist):
    """Per fitted (region, channel): in-range bin centres, contents and
    errors, for categories with at least six filled bins."""
    from workloads import HI, LO, NBINS

    width = (HI - LO) / NBINS
    groups = {}
    for key, g in fitted_part(hist).groupby(["region", "channel"]):
        g = g[(g.bin_idx >= 0) & (g.bin_idx < NBINS)].sort_values("bin_idx")
        if len(g) >= 6:
            groups[key] = (
                LO + (g.bin_idx.to_numpy() + 0.5) * width,
                g.value.to_numpy(),
                np.sqrt(np.maximum(g.sumw2.to_numpy(), 1e-12)),
            )
    return groups


def check_fits(hist, fits) -> list[str]:
    """Fit health: every fitted category is present, the winner is finite,
    ndf = bins - params, and the winner is the argmin of chi2/ndf over the
    finite fits of every family."""
    from copperhead_spark.finishing.fits import fit_families_all

    groups = _fit_inputs(hist)
    errs = []
    if set(groups) != set(fits):
        return [f"fits: categories {sorted(fits)} != {sorted(groups)}"]
    grid = fit_families_all(groups)
    for key, results in grid.items():
        w = fits[key]
        finite = [r for r in results if math.isfinite(r.chi2)]
        if not finite or not math.isfinite(w.chi2):
            errs.append(f"fits {key}: winner not finite")
            continue
        if w.ndf != len(groups[key][0]) - len(w.params):
            errs.append(f"fits {key}: ndf {w.ndf} != bins - params")
        best = min(finite, key=lambda r: r.chi2_ndf)
        if (w.model, w.chi2_ndf) != (best.model, best.chi2_ndf):
            errs.append(f"fits {key}: winner {w.model} is not the chi2/ndf argmin {best.model}")
    return errs


def check_templates(hist, root_path: str) -> list[str]:
    """TH1 read-back = float32 of the folded nominal/variation histograms."""
    from copperhead_spark.sources.rootio import read_th1f

    from workloads import NBINS

    back = read_th1f(root_path)
    errs = []
    want = {}
    for key, g in hist.groupby(["region", "channel", "variation"]):
        vals, w2 = np.zeros(NBINS), np.zeros(NBINS)
        for b, v, s in zip(g.bin_idx, g.value, g.sumw2):
            slot = min(max(int(b), 0), NBINS - 1)  # under/overflow fold into the edges
            vals[slot] += v
            w2[slot] += s
        want["_".join(key)] = (vals, w2)
    if set(back) != set(want):
        return [f"templates: names {sorted(back)} != {sorted(want)}"]
    for name, (vals, w2) in want.items():
        h = back[name]
        contents, sumw2 = h["contents"], h["sumw2"]
        if not (np.array_equal(contents[1:-1], vals.astype(np.float32).astype(np.float64))
                and np.array_equal(sumw2[1:-1], w2)
                and contents[0] == contents[-1] == sumw2[0] == sumw2[-1] == 0):
            errs.append(f"templates: {name} read-back differs")
    return errs


def check_datacard(hist, card: str) -> list[str]:
    """Rates = h-peak nominal yields, lnN = up/nominal, signal first."""
    peak = hist[hist.region == "h-peak"]
    rate = peak[peak.variation == "nominal"].groupby("channel").value.sum()
    up = peak[peak.variation == "muid_up"].groupby("channel").value.sum()
    lines = {ln.split()[0]: ln.split()[1:] for ln in card.splitlines() if ln and ln[0] != "-"}
    procs = [ln.split()[1:] for ln in card.splitlines() if ln.startswith("process ")]
    want = sorted(rate.index, key=lambda c: (c != "vbf", c))
    errs = []
    if procs[0] != want:
        return [f"datacard: processes {procs[0]} != {want}"]
    got_rate = [float(x) for x in lines["rate"]]
    got_lnn = [float(x) for x in lines["muid"][1:]]
    for c, r, lnn in zip(want, got_rate, got_lnn):
        if abs(r - rate[c]) > 0.6e-4 or abs(lnn - round(up[c] / rate[c], 3)) > 0.6e-3:
            errs.append(f"datacard: {c} rate {r} / lnN {lnn} differ")
    return errs


def check_stage2(in_dir: str, out) -> list[str]:
    score, var = duck_histograms(in_dir)
    errs = []
    if frame_digest(out.score_hist) != frame_digest(score[list(out.score_hist.columns)]):
        errs.append("stage2: score histogram differs from the DuckDB twin")
    if frame_digest(out.var_hist) != frame_digest(var[list(out.var_hist.columns)]):
        errs.append("stage2: variation histogram differs from the DuckDB twin")
        return errs
    return errs + check_templates(var, out.root_path) + check_datacard(var, out.datacard) + check_fits(var, out.fits)


# ---------------------------------------------------------------------------
# corpus dedup: signature sample + Python banding / union-find / argmax
# ---------------------------------------------------------------------------

SIG_SAMPLE = 64


def useful_pair_frac(sig, pairs, threshold: float) -> float:
    """Share of LSH candidate pairs whose MinHash Jaccard estimate (share
    of agreeing signature slots) reaches ``threshold``."""
    mh = sig.sort_values("doc_id")[[f"mh{k}" for k in range(8)]].to_numpy()
    pos = np.searchsorted(np.sort(sig.doc_id.to_numpy()), pairs[["doc1", "doc2"]].to_numpy())
    est = (mh[pos[:, 0]] == mh[pos[:, 1]]).mean(axis=1)
    return float((est >= threshold).mean()) if len(est) else 0.0


def check_dedup(spark, sf_dir: str, docs, kept: list[tuple], seed: int) -> list[str]:
    import duckdb

    from copperhead_spark.plans.dedup import dedup_minhash_signatures
    from copperhead_spark.plans.registry import all_queries

    sig = dedup_minhash_signatures(spark, sf_dir).toPandas().sort_values("doc_id")
    ids = sig.doc_id.to_numpy()
    mh = sig[[f"mh{k}" for k in range(8)]].to_numpy()
    n = docs.num_rows
    errs = []
    if ids.tolist() != list(range(n)):
        return ["dedup: signature table does not cover every document"]

    rng = np.random.default_rng([seed, 4])
    sample = np.sort(rng.choice(n, size=min(SIG_SAMPLE, n), replace=False))
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}') "
            f"WHERE doc_id IN ({', '.join(map(str, sample))})"
        )
        oracle_sql = all_queries()["dedup_minhash_signatures"].oracle
        oracle = con.execute(oracle_sql + " ORDER BY doc_id").fetchnumpy()
    finally:
        con.close()
    want = np.stack([oracle[f"mh{k}"] for k in range(8)], axis=1)
    if not np.array_equal(mh[sample], want):
        errs.append("dedup: sampled signatures differ from the DuckDB MinHash SQL")

    # banding (4 bands x 2 rows): documents sharing a band key are joined
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for band in range(4):
        first: dict[tuple, int] = {}
        for d, key in enumerate(zip(mh[:, 2 * band].tolist(), mh[:, 2 * band + 1].tolist())):
            other = first.setdefault(key, d)
            if other != d:
                ra, rb = find(other), find(d)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = np.array([find(d) for d in range(n)])  # root = min doc_id of the component
    n_chars = docs.column("n_chars").to_numpy()
    size = np.bincount(comp, minlength=n)
    # argmax n_chars, lowest doc_id on ties
    order = np.lexsort((np.arange(n), -n_chars, comp))
    head = order[np.concatenate([[True], comp[order][1:] != comp[order][:-1]])]
    expect = sorted(
        (int(comp[d]), int(d), int(n_chars[d]), int(size[comp[d]])) for d in head
    )
    if expect != kept:
        errs.append(f"dedup: kept corpus differs ({len(kept)} vs {len(expect)} clusters)")
    return errs
