"""The benchmark's workloads. Each one drives the engine only through its
public entry points and checks the engine's output against truth the
workload built from its own generated inputs.

A workload object is made once per run and used as:

    wl.prepare()          # inputs and truth (set-up)
    res = wl.job()        # one timed job; returns its timings and output
    wl.check(res)         # correctness gates, outside the timed region
    wl.traced(tracer)     # one job with a span and job group per layer
    wl.kernel_sample()    # the workload's own strings for the kernel probe
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from sassy_spark import Searcher, run_pipeline
from sassy_spark.kernel import reference_dp
from sassy_spark.operators import cluster, linkage
from sassy_spark.sources.pages import PAGES_SCHEMA, generate_pages

K_FRAC = 0.05  # run_pipeline's default and the evaluate_f1 setting
MAX_BLOCK_SIZE = 256  # run_pipeline's default --max-block-size
F1_GATE = 0.99
_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def mutate(s: str, n_edits: int, rng: np.random.Generator) -> str:
    """``n_edits`` random single-character insertions, deletions or
    substitutions, so the edit distance to ``s`` is at most ``n_edits``."""
    c = list(s)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3))
        if op == 0:
            c.insert(int(rng.integers(0, len(c) + 1)),
                     _ALPHABET[int(rng.integers(0, len(_ALPHABET)))])
        elif op == 1 and len(c) > 1:
            del c[int(rng.integers(0, len(c)))]
        else:
            c[int(rng.integers(0, len(c)))] = _ALPHABET[
                int(rng.integers(0, len(_ALPHABET)))
            ]
    return "".join(c)


def plant_patterns(texts: list[tuple[str, str]], n: int, length: int,
                   k: int, rng: np.random.Generator) -> list[tuple[str, str, str]]:
    """``n`` patterns cut from distinct texts at random offsets, each with
    0..k planted edits: (pat_id, pattern, source text id)."""
    long_enough = [t for t in texts if len(t[1]) >= 2 * length]
    picks = rng.choice(len(long_enough), size=min(n, len(long_enough)),
                       replace=False)
    out = []
    for i, j in enumerate(sorted(picks.tolist())):
        tid, text = long_enough[j]
        pos = int(rng.integers(0, len(text) - length + 1))
        pat = mutate(text[pos:pos + length], int(rng.integers(0, k + 1)), rng)
        out.append((f"p{i:03d}", pat, tid))
    return out


def write_input(spark, rows: list[tuple], schema: str, path: str) -> None:
    """Write generated rows as the parquet input the program reads, in
    as many files as generate_pages makes partitions."""
    parts = spark.sparkContext.defaultParallelism * 2
    spark.createDataFrame(rows, schema).repartition(parts).write.mode(
        "overwrite"
    ).parquet(path)


def _frame_hash(df) -> tuple[int, int]:
    """Row count and order-insensitive content hash of a frame."""
    row = df.select(
        F.count("*").alias("n"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))"),
                   F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _tree_stats(path: str) -> dict[str, tuple[int, int]]:
    """relative file path -> (size, mtime_ns) for every file under path."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def assign_hosts(sizes: list[tuple[int, int]], budget: int,
                 shares: tuple[float, ...], n_hosts: int) -> list[tuple[int, int]]:
    """(cluster id, host) for whole clusters, taken in id order, until
    ``budget`` pages are placed. Host page counts follow fixed shares of
    the budget: the first hosts take ``shares``, the rest split what is
    left evenly. Each cluster goes to the host furthest below its quota,
    so every host, and the total, ends within one cluster (at most 8
    pages) of its quota. Clusters past the budget get no host."""
    rest = (1.0 - sum(shares)) / (n_hosts - len(shares))
    quota = [s * budget for s in shares] + [rest * budget] * (n_hosts - len(shares))
    filled = [0] * n_hosts
    out = []
    for cid, n in sizes:
        if sum(filled) >= budget:
            break
        h = max(range(n_hosts), key=lambda i: quota[i] - filled[i])
        filled[h] += n
        out.append((cid, h))
    return out


def findable_pairs(rows) -> set:
    """Same-cluster pairs whose exact edit distance is <= k_eff, the set
    tools/evaluate_f1 counts recall over. Computed in this process with
    the unbanded kernel, which shares no code with the banded scorer."""
    from sassy_spark.kernel import myers

    by_cluster: dict = {}
    for url, text, cid in rows:
        by_cluster.setdefault(cid, []).append((url, text))
    pairs = []
    for members in by_cluster.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.append((members[i], members[j]))
    if not pairs:
        return set()
    dist = myers.edit_distances([a[1] for a, _ in pairs], [b[1] for _, b in pairs])
    return {
        (a[0], b[0])
        for (a, b), d in zip(pairs, dist)
        if d <= int(np.ceil(K_FRAC * max(len(a[1]), len(b[1]))))
    }


def _rewritten(before: dict, after: dict) -> int:
    """Checkpoint files a resume created or changed, not counting the
    run report that every run_pipeline.main rewrites."""
    return sum(
        1 for p, st in after.items()
        if os.path.basename(p) not in ("metrics.json", ".metrics.json.crc")
        and before.get(p) != st
    )


def pair_f1(pred: set, findable: set, cluster_of: dict) -> dict:
    """The tools/evaluate_f1 definition: recall over the findable
    same-cluster pairs (true distance <= k_eff), precision over predicted
    matches that join pages of one planted cluster."""
    tp = len(pred & findable)
    fp = sum(1 for a, b in pred if cluster_of[a] != cluster_of[b])
    precision = (len(pred) - fp) / max(len(pred), 1)
    recall = tp / max(len(findable), 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-9)
    return {"precision": precision, "recall": recall, "f1": f1}


class ErHotHosts:
    """Short pages, most of them on a few hot hosts, through the
    spark-submit pipeline entry point with a fresh checkpoint dir, then
    resumed from it."""

    name = "er_hot_hosts"
    N_PAGES = 1000
    N_HOSTS = 50
    # page shares of the hottest hosts. With the 256-member block cap,
    # host0 (~400 pages) and host1 (~300) are each refined into 4
    # salted sub-blocks; both sit well inside one refinement step, so the
    # seed cannot push them across one and the pair count stays steady
    # from seed to seed
    HOST_SHARES = (0.40, 0.30, 0.10, 0.05)
    TEXT_CHARS = 200
    # the first fresh runs in a process are slow (14.9, 8.4, then 6.8 to
    # 7.5 s); the timed window starts after them
    WARMUP_JOBS = 2

    def __init__(self, spark, seed: int, scale: float, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_pages = max(60, int(self.N_PAGES * scale))
        self.input = os.path.join(work, "pages.parquet")
        self._jobs = 0

    def prepare(self) -> dict:
        # generate a margin over the budget; assign_hosts keeps whole
        # clusters up to exactly the budget, so the corpus size, like the
        # host sizes, does not move with the seed
        gen = generate_pages(
            self.spark, int(self.n_pages * 1.1), seed=self.seed,
            n_hosts=self.N_HOSTS,
        ).collect()
        sizes = sorted(Counter(r["cluster_id"] for r in gen).items())
        host_of = dict(
            assign_hosts(sizes, self.n_pages, self.HOST_SHARES, self.N_HOSTS)
        )
        pages, self.cluster_of = [], {}
        for r in gen:
            if r["cluster_id"] not in host_of:
                continue
            path = r["url"].split(".example.com/", 1)[1]
            url = f"https://host{host_of[r['cluster_id']]}.example.com/{path}"
            pages.append((url, r["warc_ts"], r["html"],
                          r["text"][:self.TEXT_CHARS], r["lang"]))
            self.cluster_of[url] = r["cluster_id"]
        # the program receives only the pages; cluster_id is truth
        write_input(self.spark, pages, PAGES_SCHEMA.rsplit(",", 1)[0], self.input)
        self.findable = findable_pairs(
            [(p[0], p[3], self.cluster_of[p[0]]) for p in pages]
        )
        return {"rows": len(pages),
                "text_mb": sum(len(p[3]) for p in pages) / 1e6}

    def _run_pipeline(self, out: str, ckpt: str) -> float:
        argv = sys.argv
        sys.argv = ["run_pipeline", "--input", self.input, "--output", out,
                    "--checkpoint", ckpt, "--k-frac", str(K_FRAC)]
        try:
            # main() prints its own metrics line; keep stdout for the result
            with contextlib.redirect_stdout(sys.stderr):
                t = time.perf_counter()
                run_pipeline.main()
                return time.perf_counter() - t
        finally:
            sys.argv = argv

    def job(self, warmup: bool = False) -> dict:
        """A fresh checkpointed run, then (except in warm-up, whose resume
        would only repeat the fresh run's code paths) a resume of it,
        which the gate checks against the fresh output."""
        self._jobs += 1
        ckpt = os.path.join(self.work, f"ckpt{self._jobs}")
        out = os.path.join(self.work, f"entities{self._jobs}")
        self.spark.catalog.clearCache()
        fresh_s = self._run_pipeline(out, ckpt)
        # untimed: what the fresh run left behind
        scored = self.spark.read.parquet(os.path.join(ckpt, "stage=scored", "data"))
        agg = scored.select(
            F.count("*"), F.sum(F.greatest("len_a", "len_b"))
        ).collect()[0]
        res = {
            "job_s": fresh_s,
            "pages": len(self.cluster_of),
            "pairs": int(agg[0]),
            "text_mb": int(agg[1] or 0) / 1e6,
            "pred": {
                (r[0], r[1])
                for r in scored.where("is_match").select("url_a", "url_b").collect()
            },
        }
        if not warmup:
            fresh_hash = _frame_hash(self.spark.read.parquet(out))
            before = _tree_stats(ckpt)
            self.spark.catalog.clearCache()
            res["resume_s"] = self._run_pipeline(out, ckpt)
            res["rewritten"] = _rewritten(before, _tree_stats(ckpt))
            res["resume_equal"] = fresh_hash == _frame_hash(
                self.spark.read.parquet(out)
            )
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return res

    def check(self, res: dict) -> dict:
        q = pair_f1(res["pred"], self.findable, self.cluster_of)
        q["ok"] = q["f1"] >= F1_GATE and res.get("resume_equal", True)
        return q

    def traced(self, tr) -> dict:
        """One job with the pipeline's layers called one at a time, each
        boundary materialised, wired as run_pipeline wires them (link()'s
        checkpointed path, then resolve_entities with a checkpoint dir);
        then the checkpointed pipeline itself, fresh and resumed."""
        pages = self.spark.read.parquet(self.input)
        job = "traced"
        self.spark.catalog.clearCache()
        with tr.span("job", job):
            with tr.layer("blocking", job):
                keys = linkage.blocking_keys(pages, "text", with_len=True).persist()
                n_keys = keys.count()
            with tr.layer("candidates", job):
                pairs = linkage.candidate_pairs(keys, k=None, k_frac=K_FRAC).persist()
                n_pairs = pairs.count()
            with tr.layer("scoring", job):
                scored = linkage.score_pairs(
                    pairs, pages, k=None, k_frac=K_FRAC
                ).persist()
                n_scored = scored.count()
            with tr.layer("cluster", job):
                ents = cluster.resolve_entities(
                    pages, scored,
                    checkpoint_dir=os.path.join(self.work, "cc-traced"),
                ).persist()
                ents.count()
        overcap = (
            keys.groupBy("block_key").count()
            .where(F.col("count") > MAX_BLOCK_SIZE).count()
        )
        n_matches = scored.where("is_match").count()
        n_entities = ents.select("cluster_id").distinct().count()
        sample = (
            scored.select("url_a", "url_b", "k_eff")
            .orderBy(F.xxhash64("url_a", "url_b"))
            .limit(2048)
            .join(pages.select(F.col("url").alias("url_a"),
                               F.col("text").alias("ta")), "url_a")
            .join(pages.select(F.col("url").alias("url_b"),
                               F.col("text").alias("tb")), "url_b")
            .collect()
        )
        self._banded = ([r["ta"] for r in sample], [r["tb"] for r in sample],
                        np.array([r["k_eff"] for r in sample], dtype=np.int64))
        for df in (keys, pairs, scored, ents):
            df.unpersist()

        ckpt = os.path.join(self.work, "ckpt-traced")
        out = os.path.join(self.work, "entities-traced")
        with tr.layer("checkpoint", job):
            with tr.span("run_pipeline.fresh", job):
                self._run_pipeline(out, ckpt)
            before = _tree_stats(ckpt)
            with tr.span("run_pipeline.resume", job):
                self._run_pipeline(out, ckpt)
        after = _tree_stats(ckpt)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

        n = len(self.cluster_of)
        return {
            "blocking.keys": n_keys,
            "blocking.keys_per_page": n_keys / n,
            "blocking.overcap_blocks": overcap,
            "candidates.pairs": n_pairs,
            "candidates.pairs_per_page": n_pairs / n,
            "scoring.pairs": n_scored,
            "scoring.match_ratio": n_matches / max(n_scored, 1),
            "cluster.edges": n_matches,
            "cluster.entities": n_entities,
            "checkpoint.busy_s": tr.busy_s("run_pipeline.fresh", job),
            "checkpoint.resume_s": tr.busy_s("run_pipeline.resume", job),
            "checkpoint.files": len(before),
            "checkpoint.bytes": sum(s for s, _ in before.values()),
            "checkpoint.rewritten_on_resume": _rewritten(before, after),
            "_job_layers": ("blocking", "candidates", "scoring", "cluster"),
        }

    def kernel_sample(self):
        """Banded pairs: the workload's own scored pairs. Semiglobal:
        32-char patterns planted from its pages, against its pages."""
        texts = sorted(
            (r["url"], r["text"])
            for r in self.spark.read.parquet(self.input)
            .select("url", "text").collect()
        )
        rng = np.random.default_rng(self.seed)
        pats = plant_patterns(texts, 16, Search.PAT_LEN, Search.K, rng)
        sub = [texts[i][1] for i in rng.choice(len(texts), 32, replace=False)]
        return self._banded, ([p for _, p, _ in pats], sub)


class Search:
    """Approximate search of short planted patterns over the page texts:
    the broadcast-pattern ``mapInPandas`` search path alone."""

    name = "search"
    N_PAGES = 1000
    N_PATTERNS = 16
    PAT_LEN = 32
    K = 3
    CHECK_ROWS = 32
    BANDED_PAIRS = 256
    # 5.4 s, then 4.0 s, then 3.5 to 3.9 s
    WARMUP_JOBS = 2

    def __init__(self, spark, seed: int, scale: float, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_pages = max(60, int(self.N_PAGES * scale))
        self.searcher = Searcher()

    def prepare(self) -> dict:
        # a fixed number of texts, so the work per job moves little with
        # the seed; the margin covers the generator's variable page count
        rows = sorted(
            generate_pages(self.spark, int(self.n_pages * 1.2), seed=self.seed)
            .select("url", "text", "cluster_id").collect()
        )[:self.n_pages]
        self.text_of = {r["url"]: r["text"] for r in rows}
        self.clusters = [(r["url"], r["cluster_id"]) for r in rows]
        rng = np.random.default_rng(self.seed)
        self.patterns = plant_patterns(
            [(r["url"], r["text"]) for r in rows],
            self.N_PATTERNS, self.PAT_LEN, self.K, rng,
        )
        self.pattern_of = {pid: p for pid, p, _ in self.patterns}
        self.planted = {(pid, tid) for pid, _, tid in self.patterns}
        texts = os.path.join(self.work, "texts.parquet")
        pats = os.path.join(self.work, "patterns.parquet")
        write_input(self.spark, [(r["url"], r["text"]) for r in rows],
                    "text_id string, text string", texts)
        write_input(self.spark, [(pid, p) for pid, p, _ in self.patterns],
                    "pat_id string, pattern string", pats)
        self.texts_df = self.spark.read.parquet(texts)
        self.pats_df = self.spark.read.parquet(pats)
        self.text_mb = sum(len(t) for t in self.text_of.values()) / 1e6
        self._check_rng = np.random.default_rng(self.seed + 1)
        return {"rows": len(rows), "text_mb": self.text_mb}

    def job(self, warmup: bool = False) -> dict:
        self.spark.catalog.clearCache()
        t = time.perf_counter()
        rows = self.searcher.search(self.pats_df, self.texts_df, self.K).collect()
        job_s = time.perf_counter() - t
        n_pat = len(self.patterns)
        return {
            "job_s": job_s,
            "pages": len(self.text_of),
            "pairs": n_pat * len(self.text_of),
            "text_mb": n_pat * self.text_mb,
            "rows": rows,
        }

    def check(self, res: dict) -> dict:
        """Every planted occurrence is found; a sample of the reported rows
        has the cost the textbook DP gives at the reported end."""
        rows = res["rows"]
        found = {(r["pat_id"], r["text_id"]) for r in rows}
        recall = len(self.planted & found) / len(self.planted)
        idx = self._check_rng.choice(
            len(rows), size=min(self.CHECK_ROWS, len(rows)), replace=False
        ) if rows else []
        agree = 0
        for i in idx:
            r = rows[int(i)]
            p = self.pattern_of[r["pat_id"]]
            text = self.text_of[r["text_id"]]
            # an alignment of cost <= K spans at most len(p) + K text chars
            window = text[max(0, r["end"] - len(p) - self.K):r["end"]]
            agree += reference_dp.semiglobal_costs(p, window)[-1] == r["cost"]
        precision = agree / max(len(idx), 1)
        f1 = 2 * precision * recall / max(precision + recall, 1e-9)
        return {"precision": precision, "recall": recall, "f1": f1,
                "ok": recall == 1.0 and precision == 1.0}

    def traced(self, tr) -> dict:
        job = "traced"
        self.spark.catalog.clearCache()
        with tr.span("job", job):
            with tr.layer("search", job):
                m = self.searcher.search(self.pats_df, self.texts_df, self.K).persist()
                n = m.count()
        m.unpersist()
        return {
            "search.matches": n,
            "search.pattern_text_mb": len(self.patterns) * self.text_mb,
            "_job_layers": ("search",),
        }

    def kernel_sample(self):
        """Banded pairs: same-cluster page pairs, as the ER scorer would
        see them. Semiglobal: the planted patterns against sampled pages."""
        by_cluster: dict = {}
        for url, cid in self.clusters:
            by_cluster.setdefault(cid, []).append(url)
        a, b = [], []
        for urls in by_cluster.values():
            for i in range(len(urls)):
                for j in range(i + 1, len(urls)):
                    a.append(self.text_of[urls[i]])
                    b.append(self.text_of[urls[j]])
        rng = np.random.default_rng(self.seed)
        keep = sorted(rng.choice(len(a), min(len(a), self.BANDED_PAIRS),
                                 replace=False).tolist())
        a, b = [a[i] for i in keep], [b[i] for i in keep]
        k = np.array(
            [int(np.ceil(K_FRAC * max(len(x), len(y)))) for x, y in zip(a, b)],
            dtype=np.int64,
        )
        urls = sorted(self.text_of)
        sub = [self.text_of[urls[i]]
               for i in rng.choice(len(urls), 32, replace=False)]
        return (a, b, k), ([p for _, p, _ in self.patterns], sub)


WORKLOADS = {w.name: w for w in (ErHotHosts, Search)}
