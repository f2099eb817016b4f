"""The two workloads: input set-up, one timed pass, the output check and
the traced layer sequence.

A pass calls only the program's public functions.  The traced sequence
calls the same functions one layer at a time, materializing each layer's
output before it times the next, and records one span per layer."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import checks
import gen

NBINS, LO, HI = 37, gen.MASS_LO, gen.MASS_HI  # dimuon-mass template axis
SCORE_NBINS, SCORE_LO, SCORE_HI = 20, -3.0, 2.0  # MVA score axis
DUP_THRESHOLD = 0.35  # the dedup family's near-duplicate Jaccard threshold


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, number of parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class Workload:
    name = ""

    def __init__(self, work_dir: str, smoke: bool):
        """``smoke`` selects tiny inputs."""
        self.work_dir = work_dir

    def generate(self, seed: int, out_dir: str):
        raise NotImplementedError

    def setup(self, seed: int) -> float:
        """Generate the inputs; returns the generation's wall."""
        t0 = time.perf_counter()
        self.inputs = self.generate(seed, os.path.join(self.work_dir, "in"))
        return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# root_to_templates: stage 1 from ROOT, then stages 2 and 3 on its Parquet
# ---------------------------------------------------------------------------


def _events(spark, paths):
    """ROOT files -> the array-of-struct event table stage 1 consumes."""
    from pyspark.sql import functions as F

    from copperhead_spark.sources.root_ingest import read_nanoaod_files

    df = read_nanoaod_files(spark, paths, gen.BRANCHES)

    def zipped(coll, fields):
        return F.arrays_zip(*[F.col(f"{coll}_{f}").alias(f) for f in fields]).alias(coll)

    return df.select(
        *gen.EV_FLAT,
        zipped("Muon", gen.MU_FIELDS),
        zipped("Jet", gen.JET_FIELDS),
        zipped("FsrPhoton", gen.FSR_FIELDS),
    )


def _with_dataset(flat):
    """One dataset per input file: the run number names it."""
    from pyspark.sql import functions as F

    return flat.withColumn("dataset", F.format_string("ds%02d", F.col("run")))


@dataclass
class Stage2Out:
    score_hist: object  # pandas: region, channel, bin_idx, value, sumw2
    var_hist: object  # pandas: region, channel, variation, bin_idx, value, sumw2
    fits: dict  # (region, channel) -> FitResult
    root_path: str
    datacard: str

    def fingerprint(self):
        return (
            checks.frame_digest(self.score_hist),
            checks.frame_digest(self.var_hist),
            tuple(sorted((k, f.model, f.chi2) for k, f in self.fits.items())),
            self.datacard,
        )


def _scored(flat):
    from copperhead_spark.ml.inference import attach_hmm_scores
    from copperhead_spark.pipeline import channel_case

    return attach_hmm_scores(flat.withColumn("channel", channel_case()),
                             fold_col="event", score_col="score")


def _score_hist(scored):
    from pyspark.sql import functions as F

    from copperhead_spark.operators.histogram import histogram

    return histogram(
        scored, value=F.col("score"), lo=SCORE_LO, hi=SCORE_HI, nbins=SCORE_NBINS,
        by=["region", "channel"], weight=F.col("wgt_nominal"), scale=6,
    )


def _var_hist(flat):
    from copperhead_spark.pipeline import stage2_variations

    return stage2_variations(flat, "dimuon_mass", LO, HI, NBINS)


def _fits(var_hist):
    """Stage-3 fits of the signal-region (h-peak) nominal spectra."""
    from copperhead_spark.finishing.fits import fit_histogram_table

    return fit_histogram_table(checks.fitted_part(var_hist), LO, HI, NBINS)


def _templates(var_hist, out_dir):
    """ROOT templates of every histogram, and the h-peak datacard."""
    import pandas as pd

    from copperhead_spark.finishing.templates import (
        make_datacard,
        to_template_arrays,
        write_root_templates,
    )

    path = os.path.join(out_dir, "templates.root")
    write_root_templates(to_template_arrays(var_hist, NBINS), path, xlo=LO, xhi=HI)
    peak = var_hist[(var_hist.variation == "nominal") & (var_hist.region == "h-peak")]
    rates = peak.groupby("channel").value.sum().sort_index()
    up = var_hist[(var_hist.variation == "muid_up") & (var_hist.region == "h-peak")]
    rates_up = up.groupby("channel").value.sum()
    card = make_datacard(
        pd.DataFrame({"group": list(rates.index), "yield": list(rates.values)}),
        signal_groups=("vbf",),
        lnN={"muid": {g: round(rates_up[g] / rates[g], 3) for g in rates.index}},
    )
    return path, card


class RootToTemplates(Workload):
    """Stage 1: ROOT files -> read_nanoaod_files -> stage1_arrays ->
    write_partitioned.  Stages 2 and 3 on that Parquet: read_partitioned
    -> MVA scores + score histogram -> stage2_variations -> fits, ROOT
    templates and datacard."""

    name = "root_to_templates"

    def __init__(self, work_dir, smoke):
        super().__init__(work_dir, smoke)
        self.spec = gen.RootSpec(n_events=6_000, n_files=2) if smoke else gen.RootSpec()
        self.stage1_out = os.path.join(work_dir, "stage1_out")
        self.stage3_out = os.path.join(work_dir, "stage3_out")
        os.makedirs(self.stage3_out, exist_ok=True)
        self.rows = self.spec.n_events

    def generate(self, seed, out_dir):
        return gen.gen_root(self.spec, seed, out_dir)

    def run_pass(self, spark):
        from copperhead_spark.pipeline import stage1_arrays
        from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned

        flat = stage1_arrays(_events(spark, self.inputs.paths))
        write_partitioned(_with_dataset(flat), self.stage1_out)
        flat = read_partitioned(spark, self.stage1_out)
        score_hist = _score_hist(_scored(flat)).toPandas()
        var_hist = _var_hist(flat).toPandas()
        fits = _fits(var_hist)
        path, card = _templates(var_hist, self.stage3_out)
        self.last = Stage2Out(score_hist, var_hist, fits, path, card)
        return checks.parquet_rows(self.stage1_out), self.last.fingerprint()

    def check(self, spark, seed):
        return (checks.check_stage1(self.inputs, self.stage1_out)
                + checks.check_stage2(self.stage1_out, self.last))

    def trace(self, spark, tr):
        from copperhead_spark.pipeline import stage1_arrays
        from copperhead_spark.sources import rootio
        from copperhead_spark.sources.parquet_io import read_partitioned, write_partitioned

        m = {}
        path = self.inputs.paths[0]
        with tr.span("sources.rootio.read_tree"):
            rootio.read_tree(path, "Events", gen.BRANCHES)
        m["rootio.decode_s"] = tr.seconds("sources.rootio.read_tree")
        m["rootio.decode_mb_per_s"] = os.path.getsize(path) / 1e6 / m["rootio.decode_s"]

        with tr.span("sources.root_ingest.scan"):
            _noop(_events(spark, self.inputs.paths))
        m["root_ingest.scan_s"] = tr.seconds("sources.root_ingest.scan")
        m["root_ingest.tasks"] = tr.counts("sources.root_ingest.scan")["tasks"]

        events = _events(spark, self.inputs.paths).localCheckpoint()
        with tr.span("operators.stage1_kernel"):
            flat = stage1_arrays(events).localCheckpoint()
        m["stage1.kernel_s"] = tr.seconds("operators.stage1_kernel")
        m["stage1.events_per_s"] = self.rows / m["stage1.kernel_s"]
        m["stage1.selected_rows"] = flat.count()

        with tr.span("sources.parquet_io.write"):
            write_partitioned(_with_dataset(flat), self.stage1_out)
        m["parquet_io.write_s"] = tr.seconds("sources.parquet_io.write")
        size, files = _dir_bytes(self.stage1_out)
        m["parquet_io.bytes_per_event"] = size / self.rows
        m["parquet_io.files"] = files

        with tr.span("sources.parquet_io.read"):
            flat = read_partitioned(spark, self.stage1_out).localCheckpoint()
        m["parquet_io.read_s"] = tr.seconds("sources.parquet_io.read")

        with tr.span("ml.inference"):
            scored = _scored(flat).localCheckpoint()
        m["mva.score_s"] = tr.seconds("ml.inference")
        m["mva.rows_per_s"] = m["stage1.selected_rows"] / m["mva.score_s"]

        with tr.span("operators.histogram"):
            score_hist = _score_hist(scored).toPandas()
            var_hist = _var_hist(flat).toPandas()
        m["histogram.s"] = tr.seconds("operators.histogram")
        m["histogram.rows_out"] = len(score_hist) + len(var_hist)

        with tr.span("finishing.fits"):
            fits = _fits(var_hist)
        m["fits.s"] = tr.seconds("finishing.fits")
        m["fits.n_fits"] = len(fits)

        # write_root_templates looks write_th1f up in rootio at call time,
        # so a wrapper there times the TH1 sink as a child span
        write_th1f = rootio.write_th1f

        def timed_write_th1f(*args, **kwargs):
            with tr.span("sources.rootio.write_th1f"):
                return write_th1f(*args, **kwargs)

        rootio.write_th1f = timed_write_th1f
        try:
            with tr.span("finishing.templates"):
                _templates(var_hist, self.stage3_out)
        finally:
            rootio.write_th1f = write_th1f
        m["templates.s"] = tr.seconds("finishing.templates")
        m["rootio.write_th1f_s"] = tr.seconds("sources.rootio.write_th1f")
        return m


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """documents -> dedup_cluster_representatives (MinHash, LSH self-join,
    connected components, per-cluster argmax)."""

    name = "corpus_dedup"

    def __init__(self, work_dir, smoke):
        super().__init__(work_dir, smoke)
        self.spec = gen.CorpusSpec(n_docs=1_500) if smoke else gen.CorpusSpec()
        self.sf_dir = os.path.join(work_dir, "in")
        self.rows = self.spec.n_docs

    def generate(self, seed, out_dir):
        return gen.gen_corpus(self.spec, seed, out_dir)

    def run_pass(self, spark):
        from copperhead_spark.plans.dedup import dedup_cluster_representatives

        rows = dedup_cluster_representatives(spark, self.sf_dir).collect()
        self.kept = sorted(tuple(r) for r in rows)
        return tuple(self.kept)

    def check(self, spark, seed):
        return checks.check_dedup(spark, self.sf_dir, self.inputs, self.kept, seed)

    def trace(self, spark, tr):
        from copperhead_spark.catalog import table
        from copperhead_spark.operators.graph import connected_components
        from copperhead_spark.plans.dedup import (
            dedup_minhash_lsh_pairs,
            dedup_minhash_signatures,
        )

        m = {}
        with tr.span("operators.dedup.minhash"):
            sig = dedup_minhash_signatures(spark, self.sf_dir).localCheckpoint()
        m["minhash.s"] = tr.seconds("operators.dedup.minhash")
        m["minhash.docs_per_s"] = self.rows / m["minhash.s"]

        # dedup_minhash_lsh_pairs computes its own signatures first, so
        # lsh.s includes one MinHash pass
        with tr.span("plans.dedup.lsh"):
            pairs = dedup_minhash_lsh_pairs(spark, self.sf_dir).localCheckpoint()
        m["lsh.s"] = tr.seconds("plans.dedup.lsh")
        m["lsh.candidate_pairs"] = pairs.count()
        m["lsh.useful_pair_frac"] = checks.useful_pair_frac(sig.toPandas(), pairs.toPandas(),
                                                            DUP_THRESHOLD)

        docs = table(spark, self.sf_dir, "documents").select("doc_id")
        with tr.span("operators.graph.cc"):
            connected_components(docs, pairs, node_col="doc_id",
                                 src_col="doc1", dst_col="doc2").localCheckpoint()
        m["cc.s"] = tr.seconds("operators.graph.cc")
        m["cc.jobs"] = tr.counts("operators.graph.cc")["jobs"]
        return m


WORKLOADS = {w.name: w for w in (RootToTemplates, CorpusDedup)}
