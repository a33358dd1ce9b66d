"""The benchmark's workloads: inputs made from a seed, the verbs each one
runs, the same verbs split into labelled layer calls for the traced run,
and the checks on their output.

Every input is written to parquet during set-up and read back, so the
engine only ever sees generated pages and embeddings. The planted truth
(``true_cluster``, ``dup_kind``) stays in the benchmark and only scores the
output.

Quality is scored with linear "link" pairs rather than all pairs, so one
large planted group cannot drown every other duplicate kind:

- recall: every member of a promised group links to the group's min url; a
  link is found when both ends land in one output cluster;
- precision: every member of an output cluster of two or more links to the
  cluster's representative; a link is right when both ends share a planted
  ``true_cluster``.

A group is promised when the configuration is built to find it: the kinds
in ``PROMISED_KINDS`` have an expected shingle Jaccard well above the 0.8
verify threshold. ``near_j09`` (about 0.82) and the lower kinds are not
promised, so recall does not swing with MinHash estimation noise.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd

PROMISED_KINDS = frozenset({
    "boilerplate", "exact", "whitespace", "time_ladder", "near_j095",
    "outlier", "dissimilar", "undated", "same_ts",
})


@dataclass
class Inputs:
    """What set-up leaves for the timed calls."""

    frames: dict            # name -> Spark DataFrame read from parquet
    truth: pd.DataFrame     # url, true_cluster, promise_key (+ is_new)
    docs: int               # input documents
    text_bytes: int         # UTF-8 bytes of the input text
    root: str               # directory this input lives in


@dataclass
class Output:
    """A verb's collected result and what its checks read."""

    tables: dict            # name -> pandas frame
    keys: dict              # name -> the columns the output CRC covers
    extra: dict = field(default_factory=dict)

    def crc(self) -> int:
        """Order-free CRC of the identifying columns: the sum of per-row
        crc32 over every table, mod 2**64."""
        total = 0
        for name, cols in self.keys.items():
            rows = self.tables[name][list(cols)].astype(str)
            for row in rows.itertuples(index=False):
                total += zlib.crc32("\x1f".join(row).encode())
        return total % (1 << 64)


def job_group(sc, name: str | None) -> None:
    """Label the jobs this thread starts from now on (None: unlabel)."""
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(name, name)


class Spans:
    """Labels each layer call with a Spark job group and records its wall
    span, so the event log can be split per layer afterwards. Spans nest:
    a span opened inside another labels the jobs it starts, then hands the
    label back, and its wall time is charged to it, not to the outer span.
    ``spans`` holds (name, start, end, seconds covered by child spans)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[tuple[str, float, float, float]] = []
        self._open: list[list] = []      # [name, child seconds] per open span

    @contextmanager
    def __call__(self, name: str):
        self._open.append([name, 0.0])
        job_group(self._sc, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            _name, child_s = self._open.pop()
            self.spans.append((name, t0, t1, child_s))
            if self._open:
                self._open[-1][1] += t1 - t0
            job_group(self._sc, self._open[-1][0] if self._open else None)

    def self_s(self, names) -> float:
        """Wall time of the spans named in ``names``, less their children."""
        return sum(hi - lo - child for name, lo, hi, child in self.spans
                   if name in names)


@contextmanager
def no_span(_name: str):
    yield


# ---------------------------------------------------------------- helpers

def _write(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _promise():
    from pyspark.sql import functions as F

    return F.when(F.col("dup_kind").isin(*sorted(PROMISED_KINDS)),
                  F.col("true_cluster").cast("string"))


def _pages(full):
    return full.select("url", "warc_ts", "html", "text", "lang")


def _truth(full, *cols):
    """The planted truth as pandas, plus each page's text bytes."""
    from pyspark.sql import functions as F

    return full.select("url", "true_cluster", *cols,
                       F.coalesce(F.octet_length("text"), F.lit(0))
                       .alias("text_bytes")).toPandas()


def recall(truth: pd.DataFrame, cluster: pd.Series) -> float:
    """Share of promised links (member -> min url of its promised group)
    whose ends share an output cluster. ``cluster`` maps url -> output
    cluster id; a url missing from it is a singleton."""
    t = truth.dropna(subset=["promise_key"])
    t = t[t.groupby("promise_key")["url"].transform("size") >= 2]
    if t.empty:
        return 1.0
    head = t.groupby("promise_key")["url"].transform("min")
    links = t[t["url"] != head]
    a = links["url"].map(cluster)
    b = head[links.index].map(cluster)
    return float(((a == b) & a.notna()).mean())


def precision(truth: pd.DataFrame, rep: pd.Series) -> float:
    """Share of output links (member -> its cluster representative, for
    members that are not the representative) whose ends share a planted
    true cluster. ``rep`` maps url -> representative url."""
    links = rep[rep.index != rep.values]
    if links.empty:
        return 1.0
    tc = truth.set_index("url")["true_cluster"]
    return float((links.index.map(tc) == links.map(tc).values).mean())


def cluster_reps(urls: pd.Series, keys: pd.Series) -> pd.Series:
    """url -> min url of its output cluster."""
    frame = pd.DataFrame({"url": urls.values, "key": keys.values})
    frame["rep"] = frame.groupby("key")["url"].transform("min")
    return frame.set_index("url")["rep"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


def cluster_layers(pages, cfg, span, sigs=None):
    """minhash.minhash_clusters split into its layers, each one's output
    materialized inside its span. Signing is skipped when ``sigs`` (url,
    minhash) is given. Returns (signatures, clusters, verified edges)."""
    from pyspark import StorageLevel

    from pysparkdedup.cache import track
    from pysparkdedup.components import connected_components
    from pysparkdedup.minhash import minhash_edges, minhash_signatures

    mem = StorageLevel.MEMORY_AND_DISK
    if sigs is None:
        with span("minhash"):
            sigs = track(minhash_signatures(pages, cfg).persist(mem))
            sigs.count()
    with span("pairs"):
        edges = track(minhash_edges(pages, cfg, sigs=sigs).select(
            "a", "b").persist(mem))
        n_edges = edges.count()
    with span("components"):
        clusters = track(connected_components(edges).persist(mem))
        clusters.count()
    return sigs, clusters, n_edges


def pair_counts(sigs, cfg, n_edges: int, span) -> dict:
    """The pairs and components counts of one clustering; candidate pairs
    and hot buckets are counted again from ``sigs`` in a probe span that
    no layer is charged for."""
    from pyspark import StorageLevel

    from pysparkdedup.cache import cache_scope, track
    from pysparkdedup.components import SMALL_GRAPH_EDGES
    from pysparkdedup.minhash import candidate_pairs, lsh_bands
    from pysparkdedup.pairs import hot_bucket_count

    with cache_scope(), span("trace.probe"):
        bands = track(lsh_bands(sigs.select("url", "minhash"), cfg)
                      .persist(StorageLevel.MEMORY_AND_DISK))
        n_cand = candidate_pairs(bands, cfg).count()
        hot = hot_bucket_count(bands, ["band_id", "band_hash"],
                               cap=cfg.max_bucket_size)
    return {"pairs.candidates": n_cand,
            "pairs.verified_frac": n_edges / n_cand if n_cand else 0.0,
            "pairs.hot_buckets": hot,
            "components.edges": n_edges,
            "components.distributed": int(n_edges > SMALL_GRAPH_EDGES)}


@contextmanager
def split_clustering(span, found: dict):
    """While open, ``minhash.minhash_clusters`` runs as cluster_layers, so a
    verb that clusters inside one call (the near tier of tiered_dedup) has
    its minhash, pairs and components layers labelled within that same
    call. ``found`` receives the signatures and the verified edge count."""
    import pysparkdedup.minhash as mh

    plain = mh.minhash_clusters

    def staged(pages, cfg, sigs=None):
        found["sigs"], clusters, found["edges"] = cluster_layers(
            pages, cfg, span, sigs=sigs)
        return clusters

    mh.minhash_clusters = staged
    try:
        yield
    finally:
        mh.minhash_clusters = plain


# ---------------------------------------------------------------- workloads

class Workload:
    def build(self, spark, seed: int, root: str) -> Inputs:
        raise NotImplementedError

    def prepare(self, inp: Inputs) -> None:
        """Untimed per-call preparation (none by default)."""

    def run(self, spark, inp: Inputs, span=no_span) -> Output:
        """The verbs, from input frames to a collected result, inside the
        caller's cache scope. ``span`` labels each layer call; the traced
        run passes a ``Spans`` and the layers are then materialized one by
        one inside their spans."""
        raise NotImplementedError

    def check(self, inp: Inputs, out: Output) -> tuple[dict, list[str]]:
        """(quality metrics, failed-check messages)."""
        raise NotImplementedError

    def layer_counts(self, spark, inp: Inputs, out: Output, span) -> dict:
        """Per-layer counts of the traced call, after it has run and while
        its cached frames are still live."""
        raise NotImplementedError


class CrawlDedup(Workload):
    """A monthly crawl: flag the new tenth against last month's signature
    checkpoint, commit the merged snapshot, then cluster and select over
    the whole snapshot from the committed signatures."""

    NEW_MOD = 10

    def __init__(self, n: int, cap: int):
        self.n = n
        self.cap = cap

    def config(self):
        from pysparkdedup.config import DedupConfig

        return DedupConfig(strategies=("select-newest", "select-one"),
                           max_bucket_size=self.cap)

    def build(self, spark, seed, root):
        from pyspark.sql import functions as F

        from pysparkdedup.checkpoint import signatures_with_checkpoint
        from pysparkdedup.corpus import generate_pages

        full = _write(generate_pages(spark, self.n, seed=seed).withColumn(
            "is_new", F.pmod(F.xxhash64("url", F.lit(seed)),
                             F.lit(self.NEW_MOD)) == 0),
            os.path.join(root, "corpus"))
        old = _pages(full.filter(~F.col("is_new")))
        signatures_with_checkpoint(old, self.config(),
                                   os.path.join(root, "base_ckpt"),
                                   commit=True, cross_dims=True)
        truth = _truth(full, "is_new", _promise().alias("promise_key"),
                       (F.trim(F.coalesce("text", F.lit(""))) == "")
                       .alias("blank"))
        return Inputs(frames={"pages": _pages(full),
                              "new": _pages(full.filter(F.col("is_new")))},
                      truth=truth, docs=len(truth),
                      text_bytes=int(truth["text_bytes"].sum()), root=root)

    def prepare(self, inp):
        """Each call starts from a fresh copy of last month's checkpoint."""
        path = os.path.join(inp.root, "ckpt")
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(os.path.join(inp.root, "base_ckpt"), path)

    def run(self, spark, inp, span=no_span):
        from pysparkdedup.checkpoint import (
            SignatureCheckpoint, signatures_with_checkpoint)
        from pysparkdedup.crosscorpus import dedup_against_checkpoint
        from pysparkdedup.minhash import minhash_clusters
        from pysparkdedup.pipeline import run_clustered
        from pysparkdedup.stats import check_stats, compute_stats

        cfg = self.config()
        pages = inp.frames["pages"]
        path = os.path.join(inp.root, "ckpt")
        extra = {}
        with span("crosscorpus"):
            flags = dedup_against_checkpoint(
                inp.frames["new"], path, cfg).toPandas()
        with span("checkpoint"):
            sigs = signatures_with_checkpoint(
                pages, cfg, path, commit=True, cross_dims=True)
        if isinstance(span, Spans):
            extra["sigs"], clusters, extra["edges"] = cluster_layers(
                pages, cfg, span, sigs=sigs)
        else:
            clusters = minhash_clusters(pages, cfg, sigs=sigs)
        with span("pipeline"):
            final = run_clustered(pages, cfg, clusters)
            check_stats(compute_stats(final))
            table = final.select("url", "status", "cluster_key").toPandas()
        extra.update(metrics=SignatureCheckpoint(path).last_metrics(),
                     ckpt_bytes=_dir_bytes(path))
        return Output(tables={"final": table, "flags": flags},
                      keys={"final": ("url", "status"),
                            "flags": ("url", "status", "dup_of")},
                      extra=extra)

    def check(self, inp, out):
        truth = inp.truth
        t = out.tables["final"]
        cluster = pd.Series(t["cluster_key"].values, index=t["url"].values)
        q = {"pair_recall": recall(truth, cluster),
             "pair_precision": precision(
                 truth, cluster_reps(t["url"], t["cluster_key"]))}
        errors = []
        if len(t) != inp.docs or set(t["url"]) != set(truth["url"]):
            errors.append("final rows differ from the input urls")
        # the new tenth, flagged against the old side
        flags = out.tables["flags"]
        tc = truth.set_index("url")["true_cluster"]
        old, new = truth[~truth["is_new"]], truth[truth["is_new"]]
        if len(flags) != len(new) or set(flags["url"]) != set(new["url"]):
            errors.append("flag rows differ from the new urls")
        want = new[new["promise_key"].isin(set(old["promise_key"].dropna()))]
        status = flags.set_index("url")["status"]
        hits = flags[flags["status"] != "unique"]
        q["flag_recall"] = (float((status.reindex(want["url"]) != "unique")
                                  .mean()) if len(want) else 1.0)
        # A flag is right when both ends share a planted group. An
        # exact_dup flag between two blank pages is right too: the verb
        # defines exact_dup as equal normalized content hashes, and the
        # generator's malformed pages are blank but each in its own group.
        blank = truth.set_index("url")["blank"]
        same = hits["url"].map(tc).values == hits["dup_of"].map(tc).values
        both_blank = ((hits["status"] == "exact_dup").values
                      & hits["url"].map(blank).values.astype(bool)
                      & hits["dup_of"].map(blank).fillna(False).values
                      .astype(bool))
        q["flag_precision"] = (float((same | both_blank).mean())
                               if len(hits) else 1.0)
        m = out.extra["metrics"]
        if m is None or (m.reused, m.recomputed, m.total) != (
                len(old), len(new), len(truth)):
            errors.append(f"checkpoint metrics {m} do not match "
                          f"{len(old)} old + {len(new)} new rows")
        return q, errors

    def layer_counts(self, spark, inp, out, span):
        flags = out.tables["flags"]
        blank = set(inp.truth.loc[inp.truth["blank"], "url"])
        m = out.extra["metrics"]
        return {
            "crosscorpus.dup_frac": float((flags["status"] != "unique")
                                          .mean()),
            "crosscorpus.blank_flagged": int(
                (flags["url"].isin(blank) & (flags["status"] != "unique"))
                .sum()),
            "checkpoint.reused_frac": m.reused / m.total,
            "checkpoint.write_mb": out.extra["ckpt_bytes"] / 1e6,
            "checkpoint.bytes_ratio": out.extra["ckpt_bytes"]
            / inp.text_bytes,
            **pair_counts(out.extra["sigs"], self.config(),
                          out.extra["edges"], span),
        }


class TrainPipeline(Workload):
    """Curation pass -> exact / near / semantic tiers, one verb."""

    # Keep-first paragraph dedup is off: it empties every exact copy before
    # the exact tier, which then drops nothing. The boilerplate cut removes
    # the 1% boilerplate cluster, so no hot bucket reaches the near tier.
    CURATE = dict(max_dup_gram_frac=0.3, boilerplate_min_df=20,
                  dedup_paragraphs=False, redact=True, drop_empty=True,
                  line_mode="chunk")
    DIM = 16
    VECTOR_MOD = 10

    def __init__(self, n: int):
        self.n = n

    def build(self, spark, seed, root):
        from pyspark.sql import functions as F

        from pysparkdedup.corpus import generate_pages

        full = _write(generate_pages(spark, self.n, seed=seed),
                      os.path.join(root, "corpus"))

        # A tenth of the planted groups carry vectors: the group's centroid
        # plus per-url noise, so members sit near cosine 0.99 and unrelated
        # vectors almost never reach the 0.95 threshold. The semantic tier
        # then drops the near-dup kinds the 0.8 MinHash cut misses.
        def unit(col, d):
            return (F.pmod(F.xxhash64(col, F.lit(seed), F.lit(d)),
                           F.lit(2001)) / 1000.0 - 1.0)

        carriers = full.filter(F.pmod(F.xxhash64("true_cluster", F.lit(seed)),
                                      F.lit(self.VECTOR_MOD)) == 0)
        emb = _write(carriers.select(
            F.col("url").alias("vec_id"),
            F.array(*[(unit("true_cluster", d) + 0.05 * unit("url", d))
                      .cast("float") for d in range(self.DIM)])
            .alias("embedding")), os.path.join(root, "emb"))
        truth = _truth(full, _promise().alias("promise_key"))
        return Inputs(frames={"pages": _pages(full), "emb": emb},
                      truth=truth, docs=len(truth),
                      text_bytes=int(truth["text_bytes"].sum()), root=root)

    def run(self, spark, inp, span=no_span):
        from pysparkdedup.config import DedupConfig
        from pysparkdedup.curate import curate_pages
        from pysparkdedup.tiers import tiered_dedup
        from pysparkdedup.trainpipe import curate_and_dedup

        cfg = DedupConfig()
        pages, emb = inp.frames["pages"], inp.frames["emb"]
        extra = {}
        if not isinstance(span, Spans):
            _cur, ledger = curate_and_dedup(
                pages, cfg, emb=emb, emb_threshold=0.95,
                curate_kwargs=self.CURATE)
            table = ledger.toPandas()
        else:
            # curate_and_dedup's two steps; tiered_dedup's on_stage hook
            # closes each tier's span once its loser map is materialized,
            # and the near tier's clustering opens its layer spans inside
            # the tiers.near span
            with span("curate"):
                cur = curate_pages(pages, **self.CURATE).localCheckpoint(
                    eager=True)
                extra["curated"] = cur.count()
            names = iter(["tiers.exact", "tiers.near", "tiers.semantic",
                          "tiers.ledger"])
            ctx = span(next(names))
            ctx.__enter__()

            def on_stage(_tier):
                nonlocal ctx
                ctx.__exit__(None, None, None)
                ctx = span(next(names))
                ctx.__enter__()

            try:
                with split_clustering(span, extra):
                    ledger = tiered_dedup(cur, cfg, emb=emb,
                                          emb_threshold=0.95,
                                          on_stage=on_stage)
                table = ledger.toPandas()
            finally:
                ctx.__exit__(None, None, None)
        return Output(tables={"ledger": table},
                      keys={"ledger": ("url", "tier", "kept_by")},
                      extra=extra)

    def check(self, inp, out):
        t = out.tables["ledger"]
        reps = pd.Series(t["kept_by"].values, index=t["url"].values)
        truth = inp.truth[inp.truth["url"].isin(reps.index)]
        q = {"pair_recall": recall(truth, reps),
             "pair_precision": precision(truth, reps)}
        errors = []
        if t["url"].duplicated().any():
            errors.append("ledger has duplicate urls")
        if not set(t["url"]) <= set(inp.truth["url"]):
            errors.append("ledger has urls that are not in the input")
        kept = set(t.loc[t["tier"] == "kept", "url"])
        if not set(t["kept_by"]) <= kept:
            errors.append("a kept_by url is not a kept row")
        if not set(t["tier"]) <= {"kept", "exact", "near", "semantic"}:
            errors.append("unknown tier in ledger")
        return q, errors

    def layer_counts(self, spark, inp, out, span):
        from pysparkdedup.config import DedupConfig

        tiers = out.tables["ledger"]["tier"].value_counts()
        return {
            "curate.docs_kept_frac": out.extra["curated"] / inp.docs,
            "tiers.exact.dropped": int(tiers.get("exact", 0)),
            "tiers.near.dropped": int(tiers.get("near", 0)),
            "tiers.semantic.dropped": int(tiers.get("semantic", 0)),
            **pair_counts(out.extra["sigs"], DedupConfig(),
                          out.extra["edges"], span),
        }
