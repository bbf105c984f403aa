"""``serve``: served traffic against two stores behind two UdaServers,
built with the options ``app.DatahubInstance`` passes (plain, non-WAL
writes), driven by two closed-loop client threads.

* sync tenant (``changes_sync``): a preloaded store larger than the
  /query lookup index cap. One consumer drains /changes (limit 1000)
  from the start; one latestOnly and one /entities page are read and
  checked during warm-up. It also sends one /query entityId lookup and
  one inverse traversal per run, during warm-up: traversals
  over this store are refused by the index cap (HTTP 500) after the
  server has collected 200k rows (~8 s here), which would swamp a short
  measuring window. Refusals count against ops_ok_frac.
* ingest tenant (``ingest_mixed``): a store that stays under the cap.
  One producer POSTs 1000-entity batches (~40% new ids, ~50% updates to
  recently written ids, ~10% unchanged re-sends). Between its pages the
  consumer reads the new writes back: it polls /changes from its token,
  then sends a /query lookup and an inverse traversal against
  just-written ids; the three together are one "readback" sample. Every
  commit invalidates the /query index, so each read-back rebuilds it;
  read cost grows with commit count because nothing compacts on the
  served path.
"""

from __future__ import annotations

import json
import os
import random
import time

from perfbench import gen
from perfbench.harness import FairLock, Samples, both, request

PAGE = 1000
KINDS = ("changes_page", "latest_page", "entities_page")


def _ctx_element() -> dict:
    from datahub_spark.namespaces import NamespaceManager

    return {"id": "@context", "namespaces": NamespaceManager().context()}


def _instance(spark, root: str):
    """A DatahubInstance's store + server wiring (not its clock)."""
    from datahub_spark.app import DatahubInstance
    from datahub_spark.config import Config

    inst = DatahubInstance(Config(port=0, store_location=root), spark)
    return inst.store, inst.server


class Serve:
    def __init__(self, ctx, sync_ids: int, live_initial: int):
        self.ctx = ctx
        self.n = sync_ids
        self.rng = random.Random(ctx.seed)
        self.model = gen.IngestModel(ctx.seed, live_initial)
        self.commits = 0
        self.unpolled: list[tuple] = []  # acknowledged writes not yet polled
        # requests never overlap: each is timed on an otherwise idle Spark
        self.serial = FairLock()

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        spark, seed = self.ctx.spark, self.ctx.seed
        t0 = time.perf_counter()
        self.sync_store, self.sync_server = _instance(
            spark, os.path.join(self.ctx.work, "sync"))
        for version in (1, 2):
            # one commit per version over both partial datasets; every
            # row is new or changed, so the write-time dedup join that
            # store_entities would add drops nothing
            self.sync_store.execute_transaction({
                ds: gen.sync_frame(spark, ds, 0, self.n, version, seed)
                for ds in (gen.SYNC_MAIN, gen.SYNC_EXT)})
            self.commits += 1
        self.ctx.facts["preload_s"] = time.perf_counter() - t0
        self.live_store, self.live_server = _instance(
            spark, os.path.join(self.ctx.work, "live"))
        initial = [self.model.current[i] for i in self.model.order]
        self.live_store.store_entities(
            gen.LIVE, gen.live_frame(spark, initial))
        self.sync_url = self.sync_server.start()
        self.live_url = self.live_server.start()
        self.tokens = {k: "" for k in KINDS}
        self.poll_token = self._drain_token()

    def _drain_token(self) -> str:
        r = request(self.live_url, "GET",
                    f"/datasets/{gen.LIVE}/changes?limit={self._live_rows()}")
        return r.json()[-1]["token"]

    def _live_rows(self) -> int:
        """Every version in the ingest log fits one page of this size
        (a huge page limit would size Spark's top-k buffer by it)."""
        return sum(self.model.versions.values()) + PAGE

    def stop(self) -> None:
        for srv in (getattr(self, "sync_server", None),
                    getattr(self, "live_server", None)):
            if srv is not None:
                srv.stop()

    # -- sync tenant -------------------------------------------------------

    def _check_sync_row(self, kind: str, obj: dict) -> str | None:
        i = int(obj["id"].split(":", 1)[1])
        version = int((obj.get("props") or {}).get("p:v", 0))
        if version not in (1, 2):
            return f"{obj['id']} has no version"
        want = gen.sync_entity(gen.SYNC_MAIN, i, version, self.ctx.seed)
        if kind != "changes_page" and version != 2:
            return f"{kind} served stale version of {obj['id']}"
        if kind == "entities_page" and obj.get("deleted"):
            return f"/entities served tombstone {obj['id']}"
        if obj.get("props") != want["props"] or \
                bool(obj.get("deleted")) != want["deleted"] or \
                (obj.get("refs") or {}) != want["refs"]:
            return f"{kind} payload mismatch on {obj['id']}"
        return None

    def sync_page(self, kind: str, samples) -> None:
        ds = gen.SYNC_MAIN
        tok = self.tokens[kind]
        if kind == "entities_page":
            path = f"/datasets/{ds}/entities?limit={PAGE}"
            if tok:
                path += f"&from={tok}"
        else:
            path = f"/datasets/{ds}/changes?limit={PAGE}"
            if kind == "latest_page":
                path += "&latestOnly=true"
            if tok:
                path += f"&since={tok}"
        r = request(self.sync_url, "GET", path, headers={"X-Bench-Op": kind})
        if r.status != 200:
            samples.fail(kind, f"HTTP {r.status}")
            return
        page = r.json()
        ents = page[1:-1]
        if len(ents) > PAGE or page[-1].get("id") != "@continuation":
            samples.fail(kind, "malformed page")
            return
        bad = next((e for e in (self._check_sync_row(kind, o) for o in ents)
                    if e), None)
        if bad:
            samples.fail(kind, bad)
            return
        samples.add(kind, r.seconds, len(ents))
        samples.add_bytes(kind, len(r.body))
        # drained: start this kind over from the beginning
        self.tokens[kind] = page[-1]["token"] if ents else ""

    def sync_lookup(self, samples) -> None:
        """Partial merge across the two datasets (tombstoned partials
        contribute nothing)."""
        i = self.rng.randrange(self.n)
        r = request(self.sync_url, "POST", "/query",
                    {"entityId": f"person:{i}"},
                    headers={"X-Bench-Op": "lookup"})
        if r.status != 200:
            samples.fail("lookup", f"HTTP {r.status}")
        elif (r.json()[1].get("props") or {}) != \
                gen.sync_merged(i, self.ctx.seed):
            samples.fail("lookup", f"merged props differ for person:{i}")
        else:
            samples.add("lookup", r.seconds, 1)

    def sync_traverse(self, samples) -> None:
        org = f"org:{self.rng.randrange(gen.N_ORGS)}"
        r = request(self.sync_url, "POST", "/query",
                    {"startingEntities": [org], "predicate": "p:org",
                     "inverse": True}, headers={"X-Bench-Op": "traverse"})
        if r.status == 500 and b"lookup index exceeds" in r.body:
            samples.refuse("traverse", r.seconds)
        elif r.status != 200:
            samples.fail("traverse", f"HTTP {r.status}")
        else:
            samples.add("traverse", r.seconds, len(r.json()[1]))

    def consumer(self, deadline: float, samples) -> None:
        """Each turn, read back the write the producer made since the
        last turn (the turns alternate with its writes), then drain two
        pages of /changes from the start (a window never gets to the end
        of it, so never on to the latestOnly and /entities phases)."""
        while time.perf_counter() < deadline:
            with self.serial:
                self._read_back(samples)
                self.sync_page("changes_page", samples)
                self.sync_page("changes_page", samples)

    # -- ingest tenant -----------------------------------------------------

    def write(self, samples) -> None:
        """POST one 1000-entity batch. The model is updated inside the
        serial section, so later reads always see the store it models."""
        sent, changed = self.model.next_batch()
        body = json.dumps([_ctx_element()] + sent).encode()
        with self.serial:
            r = request(self.live_url, "POST",
                        f"/datasets/{gen.LIVE}/entities", body,
                        headers={"X-Bench-Op": "write"})
            if r.status == 200:
                self.model.acknowledge(sent, changed)
                self.unpolled.append((sent, changed))
        if r.status != 200:
            samples.fail("write", f"HTTP {r.status}")
            return
        self.commits += 1
        samples.add("write", r.seconds, len(sent))

    def read_back(self, samples) -> None:
        """Poll /changes from the token over the writes not yet polled
        (exactly their changed entities at the sent payloads), then look
        up and inverse-traverse an id the last one wrote."""
        with self.serial:
            self._read_back(samples)

    def _read_back(self, samples) -> None:
        """The read-back's time (poll + lookup + traversal) is one more
        sample, "readback", when all three came back right."""
        writes, self.unpolled = self.unpolled, []
        if not writes:
            return
        n_failed = samples.failed
        spent = self._read_back_ops(writes, samples)
        if samples.failed == n_failed:
            samples.add("readback", spent, attempt=False)

    def _read_back_ops(self, writes, samples) -> float:
        want = [(e["id"], e["props"]) for sent, changed in writes
                for e in sent if e["id"] in changed]
        r = request(self.live_url, "GET",
                    f"/datasets/{gen.LIVE}/changes?limit={len(want) + 1}"
                    f"&since={self.poll_token}", headers={"X-Bench-Op": "poll"})
        spent = r.seconds
        if r.status != 200:
            samples.fail("poll", f"HTTP {r.status}")
            self.poll_token = self._drain_token()
            return spent
        page = r.json()
        self.poll_token = page[-1]["token"]
        got = [(e["id"], e["props"]) for e in page[1:-1]]
        key = lambda t: (t[0], json.dumps(t[1], sort_keys=True))  # noqa: E731
        if sorted(got, key=key) != sorted(want, key=key):
            samples.fail("poll", f"poll saw {len(got)} changes, "
                                 f"{len(want)} expected")
        else:
            samples.add("poll", r.seconds, len(got))

        changed = sorted(writes[-1][1])
        eid = changed[self.rng.randrange(len(changed))]
        r = request(self.live_url, "POST", "/query", {"entityId": eid},
                    headers={"X-Bench-Op": "lookup"})
        spent += r.seconds
        if r.status != 200:
            samples.fail("lookup", f"HTTP {r.status}")
        elif r.json()[1].get("props") != self.model.current[eid]["props"]:
            samples.fail("lookup", f"lookup of {eid} is not the last write")
        else:
            samples.add("lookup", r.seconds, 1)

        org = self.model.current[eid]["refs"]["p:org"][0]
        r = request(self.live_url, "POST", "/query",
                    {"startingEntities": [org], "predicate": "p:org",
                     "inverse": True}, headers={"X-Bench-Op": "traverse"})
        spent += r.seconds
        if r.status != 200:
            samples.fail("traverse", f"HTTP {r.status}")
            return spent
        triples = r.json()[1]
        if not triples or any(
                t[2].get("props") != self.model.current[t[2]["id"]]["props"]
                for t in triples):
            samples.fail("traverse", f"inverse traversal of {org} is stale")
        else:
            samples.add("traverse", r.seconds, len(triples))
        return spent

    def producer(self, deadline: float, samples) -> None:
        while time.perf_counter() < deadline:
            self.write(samples)

    # -- run ---------------------------------------------------------------

    def warm(self, samples) -> None:
        """The refused sync traversal and the sync lookup on one thread;
        on the other, in the traversal's shadow, two writes with one
        latestOnly and one /entities page between them (checked; the load
        only drains /changes). Then one read-back. Outcomes count,
        timings do not."""
        warm = Samples()

        def sync_side():
            self.sync_traverse(warm)
            self.sync_lookup(warm)

        def ingest_side():
            self.write(warm)
            self.sync_page("latest_page", warm)
            self.write(warm)
            self.sync_page("entities_page", warm)

        both(sync_side, ingest_side)
        self.read_back(warm)
        samples.absorb_counts(warm)

    def load(self, seconds: float, samples) -> None:
        deadline = time.perf_counter() + seconds
        both(lambda: self.consumer(deadline, samples),
             lambda: self.producer(deadline, samples))

    def final_checks(self, samples) -> None:
        """Every acknowledged write is in a full /changes drain at its
        latest payload, and unchanged re-sends added no version."""
        r = request(self.live_url, "GET",
                    f"/datasets/{gen.LIVE}/changes?limit={self._live_rows()}")
        versions: dict[str, int] = {}
        last: dict[str, dict] = {}
        for e in r.json()[1:-1]:
            versions[e["id"]] = versions.get(e["id"], 0) + 1
            last[e["id"]] = e
        if versions != self.model.versions:
            diff = sum(1 for k in self.model.versions
                       if versions.get(k) != self.model.versions[k])
            samples.check_failed(f"{diff} ids have the wrong version count")
        else:
            samples.check_passed()
        if any(last[k]["props"] != v["props"]
               for k, v in self.model.current.items() if k in last):
            samples.check_failed("drained payload is not the last write")
        else:
            samples.check_passed()
        self.live_log_rows = sum(versions.values())


def run(ctx, samples, scale: float, t_process: float):
    from perfbench.report import Result, footprint

    # 4 * 52k = 208k sync log rows: past the 200k-row /query index cap
    job = Serve(ctx, sync_ids=max(int(52_000 * scale), 200),
                live_initial=max(int(5_000 * scale), 2_000))
    try:
        job.setup()
        setup_s = time.perf_counter() - t_process
        tw = time.perf_counter()
        job.warm(samples)
        if ctx.counters is not None:
            ctx.counters.per_op.clear()
        t0 = time.perf_counter()
        ctx.facts["warm_s"] = t0 - tw
        job.load(ctx.seconds, samples)
        t1 = time.perf_counter()
        job.final_checks(samples)
    finally:
        job.stop()
    roots = [job.sync_store.root, job.live_store.root]
    return Result(
        setup_s=setup_s, load_s=t1 - t0, load_window=(t0, t1),
        write_ops=("write",), read_ops=("changes_page",),
        readback_ops=("readback",),
        footprint=footprint(ctx.spark, roots) if ctx.tracer else {},
        facts={"commits": job.commits,
               "sync_log_rows": 4 * job.n,
               "sync_entities": 2 * job.n,
               "live_log_rows_end": job.live_log_rows,
               "index_cap_rows": _index_cap()})


def _index_cap() -> int:
    from datahub_spark.script import LOOKUP_INDEX_MAX_ROWS

    return LOOKUP_INDEX_MAX_ROWS
