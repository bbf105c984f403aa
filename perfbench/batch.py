"""``batch``: the jobs engine and the analytics operators, server idle,
driven by two closed-loop client threads.

* transform job (``transform_job``): a 10k-entity source and a 50-entity
  dimension. Each cycle commits a 1000-entity change batch straight to
  the store, then runs one incremental ``jobs.Job``: DatasetSource ->
  JavaScript transform (GetReference + FindById into the dimension,
  SetProperty, RemoveProperty) -> DatasetSink. 200 of the 1000 changes
  only touch a property the transform removes, so the sink's write-time
  dedup should drop them. After each run, each of ``READERS`` consumers
  reads the sink dataset's changes since their shared token (the
  read-back): the run's output, checked row by row and counted.
* analytics: the ``report.LEGS`` entries of ``queries.QUERIES``, each
  forced with a noop write, over the ``customer`` and ``orders`` tables
  of the repository's sf0.01 test data (copied into ``data/sf0.01``, so
  the benchmark reads only inside its checkout). Each leg is checked
  once per run against its ``queries.ORACLES`` DuckDB SQL, untimed,
  during warm-up.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import FairLock, Samples, both, median
from perfbench.report import LEGS

PER_CYCLE = 1000
TOUCH = 200          # changes the transform erases (sink dedup drops them)
READERS = 3          # consumers of the job's output, each a read-back sample
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "sf0.01")
TABLE_NAMES = ("customer", "orders")


class Batch:
    def __init__(self, ctx, n_src: int):
        self.ctx = ctx
        self.n_src = n_src
        self.legs = LEGS
        self.cyc = [0] * n_src       # cycle whose payload each source id holds
        self.cycle = 0
        self.leg_times: dict[str, list[float]] = {leg: [] for leg in LEGS}
        # per job run: Job.run's result plus "since" (the token it started
        # from) and "written" (sink rows the read-back found at its tick)
        self.runs: list[dict] = []
        self.warm_runs = 0           # runs made before the measuring window
        self.out_token = 0           # the read-back consumers' token
        self.last_batch: list[tuple] = []
        # job cycles and legs never overlap: each is timed on an
        # otherwise idle Spark
        self.serial = FairLock()

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from datahub_spark import jobs, script
        from datahub_spark.store import EntityStore

        spark, seed = self.ctx.spark, self.ctx.seed
        root = os.path.join(self.ctx.work, "store")
        self.store = EntityStore(spark, root)
        t0 = time.perf_counter()
        self.store.store_entities(
            gen.SRC, gen.src_frame(spark, self.n_src, seed))
        self.ctx.facts["source_commit_s"] = time.perf_counter() - t0
        self.store.store_entities(gen.DIM, gen.dim_frame(spark, seed))
        self.state = jobs.JobState(os.path.join(root, "jobstate.json"))
        transform = script.make_script_transform(
            gen.JOB_SCRIPT, lookup=[self.store.log([gen.DIM])])
        self.job = jobs.Job("enrich", jobs.DatasetSource(self.store, gen.SRC),
                            jobs.DatasetSink(self.store, gen.OUT),
                            transform=transform)

    # -- transform job -------------------------------------------------------

    def _change_batch(self) -> tuple[list[tuple], dict, set]:
        """Cycle c rewrites a window of ids: the first 800 move to cycle
        c (new dimension reference), the last 200 only get p:touch.
        Returns (rows, {moved id: c}, touch-only ids)."""
        c = self.cycle
        seed = self.ctx.seed
        rows, moved, touch = [], {}, set()
        for k, i in enumerate(gen.cycle_ids(c, self.n_src, PER_CYCLE, seed)):
            eid = f"src:{i}"
            if k < PER_CYCLE - TOUCH:
                self.cyc[i] = c
                moved[eid] = c
                props = {"p:name": f"n{i}", "p:cycle": str(c)}
            else:
                touch.add(eid)
                props = {"p:name": f"n{i}", "p:cycle": str(self.cyc[i]),
                         "p:touch": str(c)}
            refs = {"p:dim": [gen.src_dim_of(i, self.cyc[i], seed)]}
            rows.append((eid, None, i, False, props, refs, None))
        return rows, moved, touch

    def _op(self, op: str, fn):
        counters = self.ctx.counters
        group = counters.begin(op) if counters else None
        try:
            if self.ctx.tracer is not None:
                with self.ctx.tracer.span(f"bench.{op}", root=True):
                    return fn()
            return fn()
        finally:
            if counters:
                counters.end(op, group)

    def run_job(self, samples, want: dict, touch: set) -> float:
        """One job run, then the read-backs of its output; returns the
        run's time. ``want`` maps each id the run must write to the
        cycle its payload is from; no id of ``touch`` may be written."""
        since = self.runs[-1]["token"] if self.runs else 0
        t0 = time.perf_counter()
        result = self._op("job_run", lambda: self.job.run(self.state))
        t1 = time.perf_counter()
        reads = []
        for _ in range(READERS):
            t = time.perf_counter()
            rows = self._op("readback", self._read_output)
            samples.add("readback", time.perf_counter() - t, len(rows))
            reads.append(rows)
        rows = reads[0]
        if rows:
            self.out_token = max(r["recorded"] for r in rows)
        self.runs.append({**result, "since": since, "written": len(rows)})
        self._check_output(rows, want, touch, samples)
        if any(sorted(map(repr, r)) != sorted(map(repr, rows))
               for r in reads[1:]):
            samples.check_failed(f"consumers of cycle {self.cycle}'s output "
                                 f"read different rows")
        return t1 - t0

    def _read_output(self) -> list:
        """The sink dataset's changes since the consumers' token."""
        from pyspark.sql import functions as F

        return self.store.changes(gen.OUT, since=self.out_token).select(
            "id", "recorded", F.col("props")["p:cycle"].alias("c"),
            F.col("props")["p:label"].alias("label"),
            F.col("props")["p:touch"].alias("touch"),
            F.col("refs")["p:dim"][0].alias("dim")).collect()

    def _check_output(self, rows, want: dict, touch: set, samples) -> None:
        """One row per changed source id, from the right cycle, carrying
        the dimension's label and without the removed property; nothing
        for the touch-only ids."""
        seed = self.ctx.seed
        seen: set = set()
        bad = 0
        for r in rows:
            c = want.get(r["id"])
            if c is None or r["id"] in seen:
                bad += 1
                continue
            seen.add(r["id"])
            dim = gen.src_dim_of(int(r["id"].split(":")[1]), c, seed)
            if r["c"] != str(c) or r["touch"] is not None or \
                    r["dim"] != dim or r["label"] != gen.dim_label(dim, seed):
                bad += 1
        missing = len(want) - len(seen)
        touched = len(touch & {r["id"] for r in rows})
        if bad or missing or touched:
            samples.check_failed(
                f"job output after cycle {self.cycle}: {bad} bad rows, "
                f"{missing} changed ids missing, {touched} touch-only ids "
                f"written")
        else:
            samples.check_passed()

    def cycle_once(self, samples) -> None:
        from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA

        self.cycle += 1
        rows, moved, touch = self._change_batch()
        self.last_batch = rows
        df = self.ctx.spark.createDataFrame(rows, SCRIPT_OUTPUT_SCHEMA) \
            .drop("dataset")
        t0 = time.perf_counter()
        self._op("commit", lambda: self.store.store_entities(gen.SRC, df))
        samples.add("commit", time.perf_counter() - t0, PER_CYCLE)
        run_s = self.run_job(samples, moved, touch)
        samples.add("job_run", run_s, PER_CYCLE)

    def job_loop(self, deadline: float, samples) -> None:
        while time.perf_counter() < deadline:
            with self.serial:
                self.cycle_once(samples)

    # -- analytics -------------------------------------------------------------

    def run_leg(self, leg: str) -> float:
        from datahub_spark import queries

        def go():
            queries.QUERIES[leg](self.ctx.spark, TABLES) \
                .write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        self._op(leg, go)
        return time.perf_counter() - t0

    def check_legs(self, samples) -> None:
        """Each leg against its DuckDB oracle, once, untimed."""
        import duckdb

        from datahub_spark import queries

        con = duckdb.connect()
        for name in TABLE_NAMES:
            path = os.path.join(TABLES, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        for leg in self.legs:
            got = _canon(queries.QUERIES[leg](self.ctx.spark, TABLES)
                         .toPandas())
            want = _canon(con.execute(queries.ORACLES[leg]).df())
            if list(got.columns) == list(want.columns) and got.equals(want):
                samples.check_passed()
            else:
                samples.check_failed(f"{leg} differs from its oracle "
                                     f"({len(got)} vs {len(want)} rows)")
        con.close()

    def legs_loop(self, deadline: float, samples) -> None:
        """Whole passes over the legs, at least one; a pass is one read
        sample (its legs' summed time), so every leg weighs the same."""
        while True:
            total = 0.0
            for leg in self.legs:
                with self.serial:
                    secs = self.run_leg(leg)
                self.leg_times[leg].append(secs)
                total += secs
            samples.add("pass", total, len(self.legs))
            if time.perf_counter() >= deadline:
                return

    # -- phases ----------------------------------------------------------------

    def warm(self, samples) -> None:
        """Job catch-up over the whole source (every id written at its
        cycle-0 payload) and one cycle on one thread; on the other, the
        oracle checks, which run every leg once, and one more pass.
        Outcomes count, timings do not."""
        warm = Samples()

        def jobs_side():
            self.run_job(warm, {f"src:{i}": 0 for i in range(self.n_src)},
                         set())
            self.cycle_once(warm)

        def legs_side():
            self.check_legs(warm)
            for leg in self.legs:
                self.run_leg(leg)

        both(jobs_side, legs_side)
        samples.absorb_counts(warm)
        self.warm_runs = len(self.runs)

    def load(self, seconds: float, samples) -> None:
        deadline = time.perf_counter() + seconds
        both(lambda: self.job_loop(deadline, samples),
              lambda: self.legs_loop(deadline, samples))

    def final_checks(self, samples) -> list[tuple[int, int]]:
        """Source rows each run read, counted from the store: the
        source's log rows recorded after the run's starting token, up to
        its token. A cycle's run reads exactly the cycle's changes, and
        no run needed a retry. Returns (read, written) per measured run."""
        from pyspark.sql import functions as F

        per_tick = {r["recorded"]: r["n"] for r in self.store.log([gen.SRC])
                    .groupBy("recorded").agg(F.count(F.lit(1)).alias("n"))
                    .collect()}
        counts = []
        for k, run in enumerate(self.runs):
            read = sum(n for t, n in per_tick.items()
                       if run["since"] < t <= run["token"])
            want = self.n_src if k == 0 else PER_CYCLE
            if read != want:
                samples.check_failed(f"job run {k} read {read} source rows, "
                                     f"{want} expected")
            else:
                samples.check_passed()
            if k >= self.warm_runs:
                counts.append((read, run["written"]))
        if any(r.get("attempts", 1) != 1 for r in self.runs):
            samples.check_failed("a job run needed a retry")
        return counts

    def transform_eps(self) -> float:
        """The compiled transform called in-process on the last cycle's
        entity dicts."""
        from datahub_spark import script

        index = script.build_lookup_index(self.store.log([gen.DIM]))
        fn = script.compile_script(gen.JOB_SCRIPT, index=index)
        ents = [{"ID": r[0], "Recorded": None, "Seq": r[2], "IsDeleted": False,
                 "Properties": dict(r[4]),
                 "References": {k: list(v) for k, v in r[5].items()},
                 "Dataset": gen.SRC} for r in self.last_batch]
        t0 = time.perf_counter()
        fn(ents)
        return len(ents) / (time.perf_counter() - t0)


def _canon(df):
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "" if v is None or v != v else str(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def run(ctx, samples, scale: float, t_process: float):
    from perfbench.report import Result, footprint

    job = Batch(ctx, n_src=max(int(10_000 * scale), 2 * PER_CYCLE))
    job.setup()
    setup_s = time.perf_counter() - t_process
    tw = time.perf_counter()
    job.warm(samples)
    if ctx.counters is not None:
        ctx.counters.per_op.clear()
    t0 = time.perf_counter()
    job.load(ctx.seconds, samples)
    t1 = time.perf_counter()
    counts = job.final_checks(samples)
    read = sum(r for r, _w in counts)
    written = sum(w for _r, w in counts)
    ctx.facts["warm_s"] = t0 - tw
    facts = {f"leg.{leg}": median(ts) or 0.0
             for leg, ts in job.leg_times.items()}
    facts.update({
        "analytics_total_s": sum(facts.values()),
        "cycles": job.cycle,
        "source_entities": job.n_src,
        "jobs.attempts": median([r.get("attempts", 1) for r in job.runs]),
        "jobs.rows_read": median([r for r, _w in counts]) or 0,
        "jobs.rows_written": median([w for _r, w in counts]) or 0,
        "jobs.useful_ratio": written / read if read else 0.0,
    })
    if ctx.tracer is not None:
        facts["script.transform_eps"] = job.transform_eps()
    return Result(
        setup_s=setup_s, load_s=t1 - t0, load_window=(t0, t1),
        write_ops=("job_run",), read_ops=("pass",),
        readback_ops=("readback",),
        footprint=footprint(ctx.spark, [job.store.root]) if ctx.tracer
        else {}, facts=facts)
