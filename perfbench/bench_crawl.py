"""``crawl-verify`` workload: checkpointed crawls with payload verification.

Inputs: a 40k-URL synthetic web over 40 Zipf-skewed hosts from the seed
(``synth.gen_link_graph``). The robots table (``synth.gen_robots``) and the
image payload table (``synth.gen_images``) use the library's fixed seed:
the verify UDF regenerates its ground-truth pixels from that seed, and a
seeded robots table blocks 0 to 5 whole hosts, which moves the fetched count
by up to 16 % between seeds (IQR/median 0.158 over seeds 1-8, against 0.023
with fixed robots) — more than any regression bound could absorb.

Set-up: generate the rows, build the cached input tables, then a one-round
crawl, cut there, as the JIT / code-generation and Python-worker warm-up. Measured: two-round crawls (``CrawlEngine.run``,
checkpoint on, payload verify on), as many as fit in the run's seconds (at
least one).

The traced run adds a resume leg: a fresh engine on the cut crawl's
checkpoint, ``run(resume=True)``, which finishes its second round. That
exercises the checkpoint read path and the seen-filter rebuild beside the
write path. (It stays out of the untraced runs to keep a run within the
benchmark's time budget; its wall time is a per-layer metric.)

Checks, per crawl: pop order and seen set equal ``oracle/crawl.py`` on the
same web; every fetched payload passes the phash check; min PSNR >= 40 dB.
The resumed crawl must equal the uninterrupted one by the same checks.

Timings are CPU seconds of the whole process tree (see procs.py); wall
times go to the details.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

from procs import Stopwatch, tree_cpu_s
from result import Result, another_fits, median, p90

N_URLS = 40_000
N_HOSTS = 40
N_IMAGES = 500
IMG_SIZES = (32, 64, 128)
BUDGET = 60  # ~1.1k fetched rows per round
ROUNDS = 2
STAGES = ("dedup", "schedule", "fetch", "links", "checkpoint")

WEB_COLS = (
    "urim", "urir", "host", "memento_datetime", "damage", "priority",
    "image_id", "outlinks",
)
WEB_SCHEMA = (
    "urim string, urir string, host string, memento_datetime timestamp, "
    "damage double, priority double, image_id string, outlinks array<string>"
)
IMG_COLS = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
IMG_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
ROBOTS_SCHEMA = "host string, disallow array<string>, crawl_delay double"


class CrawlWorkload:
    def __init__(self, spark, seed: int, seconds: float, cores: int, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.ckpt_root = os.path.join(work, "crawl")
        self.n_ckpt = 0

    # ------------------------------------------------------------ set-up

    def _generate(self) -> float:
        """Generate the input rows on the driver; returns the wall time."""
        from hypercane_spark.synth import SEED, gen_images, gen_link_graph, gen_robots

        t0 = time.perf_counter()
        self.web_rows = gen_link_graph(
            n_urls=N_URLS, seed=self.seed, max_outlinks=3, n_images=N_IMAGES, n_hosts=N_HOSTS
        )
        self.robots_rows = gen_robots(seed=SEED)
        self.img_rows = gen_images(N_IMAGES, seed=SEED, sizes=IMG_SIZES)
        self.seed_urims = sorted(
            r["urim"] for r in self.web_rows if zlib.crc32(r["urim"].encode()) % 10 == 0
        )
        return time.perf_counter() - t0

    def _build(self) -> None:
        """Build the input tables, cached and partitioned on their join
        keys."""
        import pandas as pd

        sp = self.spark
        self.web = (
            sp.createDataFrame(pd.DataFrame(self.web_rows, columns=list(WEB_COLS)), WEB_SCHEMA)
            .repartition(self.cores, "urim")
            .persist()
        )
        self.images = (
            sp.createDataFrame(pd.DataFrame(self.img_rows, columns=list(IMG_COLS)), IMG_SCHEMA)
            .repartition(self.cores, "image_id")
            .persist()
        )
        self.robots = sp.createDataFrame(
            pd.DataFrame(self.robots_rows, columns=["host", "disallow", "crawl_delay"]),
            ROBOTS_SCHEMA,
        ).persist()
        for df in (self.web, self.images, self.robots):
            df.count()
        self.seeds = sp.createDataFrame([(u,) for u in self.seed_urims], "urim string")

    def _oracle(self) -> tuple[list[str], set[str]]:
        """Pop order and seen set of the sequential reference crawl."""
        from hypercane_spark.oracle.crawl import crawl_oracle

        return crawl_oracle(
            self.web_rows,
            self.seed_urims,
            robots=self.robots_rows,
            per_host_budget=BUDGET,
            max_depth=ROUNDS,
            max_rounds=ROUNDS,
        )

    # ------------------------------------------------------------ crawling

    def _engine(self, ckpt: str, rounds: int):
        from hypercane_spark.streaming.frontier import CrawlConfig, CrawlEngine

        return CrawlEngine(
            self.spark,
            self.web,
            robots=self.robots,
            images=self.images,
            checkpoint_dir=ckpt,
            config=CrawlConfig(
                per_host_budget=BUDGET,
                max_depth=ROUNDS,
                max_rounds=rounds,
                salt_hot_hosts=4,
                verify_payload=True,
                collect_metrics=False,
            ),
        )

    def _crawl(self, rounds: int = ROUNDS):
        """One fresh crawl → (engine, fetched, stopwatch of run())."""
        ckpt = os.path.join(self.ckpt_root, f"c{self.n_ckpt}")
        self.n_ckpt += 1
        eng = self._engine(ckpt, rounds)
        with Stopwatch() as sw:
            fetched = eng.run(self.seeds)
        return eng, fetched, sw

    def _check(self, res: Result, what: str, eng, order: list[str], want) -> None:
        """Compare a finished crawl's pop order and seen set with the
        oracle, and check the payload fidelity of every fetched row."""
        from pyspark.sql import functions as F

        want_order, want_seen = want
        seen = {r["surt"] for r in eng.ckpt.read_seen(self.spark, ROUNDS - 1).collect()}
        fid = eng.ckpt.read_fetched(self.spark, 0)
        for r in range(1, ROUNDS):
            fid = fid.unionByName(eng.ckpt.read_fetched(self.spark, r))
        agg = fid.agg(
            F.avg(F.col("phash_ok").cast("int")).alias("ok"), F.min("psnr_db").alias("psnr")
        ).collect()[0]
        problems = []
        if order != want_order:
            problems.append(f"pop order ({len(order)} vs oracle {len(want_order)})")
        if seen != want_seen:
            problems.append(f"seen set ({len(seen)} vs oracle {len(want_seen)})")
        if agg["ok"] != 1.0:
            problems.append(f"phash_ok_rate {agg['ok']}")
        if agg["psnr"] is None or agg["psnr"] < 40.0:
            problems.append(f"min PSNR {agg['psnr']}")
        res.check(not problems, f"{what}: " + "; ".join(problems))

    def _resume(self, ckpt: str):
        """Fresh engine on a cut crawl's checkpoint, run to ROUNDS rounds."""
        t0 = time.perf_counter()
        eng = self._engine(ckpt, ROUNDS)
        fetched = eng.run(self.seeds, resume=True)
        return eng, fetched, time.perf_counter() - t0

    # ------------------------------------------------------------ workload

    def run(self, tracer=None) -> Result:
        res = Result(details={"n_urls": N_URLS, "hosts": N_HOSTS, "rounds": ROUNDS})
        gen_s = self._generate()
        with Stopwatch() as build:
            self._build()
        want = self._oracle()

        cut, cut_fetched, warm = self._crawl(rounds=1)
        res.setup_s = tree_cpu_s()  # everything since the process started
        res.details["setup"] = {
            "generate_s": gen_s, "build_s": build.wall_s, "build_cpu_s": build.cpu_s,
            "warmup_s": warm.wall_s,
        }
        if tracer is not None:
            return self._traced(res, tracer, want, cut.ckpt.base, cut.pop_order(cut_fetched))

        crawls: list[Stopwatch] = []
        per_cpu_s, per_wall_s, rounds = [], [], []
        t0 = time.perf_counter()
        while not crawls or another_fits(t0, len(crawls), self.seconds):
            eng, fetched, sw = self._crawl()
            crawls.append(sw)
            n = sum(m.fetched for m in eng.metrics)
            per_cpu_s.append(n / sw.cpu_s)
            per_wall_s.append(n / sw.wall_s)
            rounds += [sum(m.timings.values()) for m in eng.metrics]
            self._check(res, f"crawl {len(crawls)}", eng, eng.pop_order(fetched), want)
            shutil.rmtree(eng.ckpt.base, ignore_errors=True)
        res.e2e = {
            "cpu_s": median([sw.cpu_s for sw in crawls]),
            "items_per_cpu_s": median(per_cpu_s),
        }
        res.details.update(
            crawls=len(crawls), crawl_wall_s=[sw.wall_s for sw in crawls],
            crawl_cpu_s=[sw.cpu_s for sw in crawls], mementos_per_s=median(per_wall_s),
            round_walls_s=rounds, round_p50_s=median(rounds), round_p90_s=p90(rounds),
            fetched=len(want[0]),
        )
        return res

    def _untraced_crawl(self, res: Result, want) -> Stopwatch:
        eng, fetched, sw = self._crawl()
        self._check(res, "untraced crawl", eng, eng.pop_order(fetched), want)
        shutil.rmtree(eng.ckpt.base, ignore_errors=True)
        return sw

    def _traced(self, res: Result, tracer, want, cut_ckpt: str, cut_order: list[str]) -> Result:
        """The measured crawl traced, at the same point after set-up as the
        untraced runs measure theirs; then the traced resume leg, and the
        same crawl untraced. Crawls still speed up as the JIT matures, so
        the later untraced crawl makes the overhead read high rather than
        low."""
        state = {"leg": "crawl", "round": None}
        _install_probes(tracer, state)
        try:
            with tracer.span("crawl"):
                eng, fetched, traced = self._crawl()
            state.update(leg="resume", round=None)
            with tracer.span("resume"):
                reng, rfetched, resume_s = self._resume(cut_ckpt)
        finally:
            tracer.unpatch()
            tracer.clear_group()
        self._check(res, "traced crawl", eng, eng.pop_order(fetched), want)
        self._check(res, "traced resume", reng, cut_order + reng.pop_order(rfetched), want)
        untraced = self._untraced_crawl(res, want)

        files, nbytes = 0, 0
        for d, _, names in os.walk(eng.ckpt.base):
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
        layers = {
            "streaming.frontier.round_s": median(
                [sum(m.timings.values()) for m in eng.metrics]
            ),
            **{
                f"streaming.frontier.{s}_s": median([m.timings.get(s, 0.0) for m in eng.metrics])
                for s in STAGES
            },
            **tracer.timers,
            "streaming.checkpoint.files": files,
            "streaming.checkpoint.bytes_written_mb": nbytes / (1024.0 * 1024.0),
            "streaming.resume_s": resume_s,
            "trace.traced_cpu_s": traced.cpu_s,
            "trace.overhead_cpu_s": traced.cpu_s - untraced.cpu_s,
        }
        res.layers = layers
        res.details["traced_wall_s"] = traced.wall_s
        res.details["untraced_wall_s"] = untraced.wall_s
        return res


def _install_probes(tracer, state: dict) -> None:
    """Wrap the engine's public storage and seen-filter calls: time each,
    and tag the jobs each issues with ``<leg>:r<round>:<stage>``.

    ``read_frontier_log`` opens every round (it reads the frontier delta
    log), so its wrapper advances the round. Filter builds before the first
    round of a ``run`` (the resume rebuild) count as ``build_s``; those
    inside rounds as ``update_s``."""
    import hypercane_spark.streaming.frontier as frontier
    from hypercane_spark.streaming.checkpoint import RoundCheckpoint
    from hypercane_spark.streaming.storage import ParquetStateStore

    def label(stage: str):
        def name() -> str:
            rnd = "setup" if state["round"] is None else f"r{state['round']}"
            return f"{state['leg']}:{rnd}:{stage}"

        return name

    def open_round(orig):
        timed = tracer.timed("streaming.checkpoint.read_s", label("dedup"))(orig)

        def wrapper(self, spark, upto):
            state["round"] = upto + 1
            return timed(self, spark, upto)

        return wrapper

    tracer.patch(RoundCheckpoint, "read_frontier_log", open_round)
    for name in ("read_seen", "read_fetched"):
        tracer.patch(RoundCheckpoint, name, tracer.timed("streaming.checkpoint.read_s"))
    tracer.patch(
        RoundCheckpoint, "write_fetched",
        tracer.timed("streaming.checkpoint.write_fetched_s", label("fetch")),
    )
    tracer.patch(
        RoundCheckpoint, "write", tracer.timed("streaming.checkpoint.write_s", label("checkpoint"))
    )

    def tag_writer_thread(orig):
        # RoundCheckpoint.write fans its tables out to fresh threads, which
        # start without a job group
        def wrapper(*a, **kw):
            if tracer.sc.getLocalProperty("spark.jobGroup.id") is None:
                tracer.group(label("checkpoint")())
            return orig(*a, **kw)

        return wrapper

    tracer.patch(ParquetStateStore, "write_table", tag_writer_thread)

    def filter_call(orig):
        def wrapper(*a, **kw):
            timer = "build_s" if state["round"] is None else "update_s"
            return tracer.timed(f"streaming.bloom.{timer}", label("bloom"))(orig)(*a, **kw)

        return wrapper

    for name in (
        "build_bloom", "build_sharded_bloom", "sharded_bloom_or_update",
        "build_cuckoo", "cuckoo_add_df",
    ):
        tracer.patch(frontier, name, filter_call)
