"""Seeded inputs. The same seed gives the same inputs; every expected
value the output checks use is computed here by plain integer formulas
that the Spark-side generators evaluate identically."""

from __future__ import annotations

import random

# -- sync store (over the /query index cap) ---------------------------------
#
# N ids, two partial datasets sharing every id, two versions per entity:
# 4 * N log rows. Version 2 of the main dataset tombstones ~3% of ids.

SYNC_MAIN, SYNC_EXT = "person", "person_ext"
N_ORGS = 500


def _mix(seed: int) -> int:
    return seed % 1_000_003


def sync_tombstone(i: int, seed: int) -> bool:
    return (i * 13 + _mix(seed)) % 100 < 3


def sync_entity(ds: str, i: int, version: int, seed: int) -> dict:
    """Expected payload of version ``version`` of ``ds``/person:i. Rows
    are kept narrow: the preload and the over-cap refusal cost time in
    proportion to their bytes."""
    s = _mix(seed)
    if ds == SYNC_MAIN:
        mult, off = (7919, 104729) if version == 1 else (7927, 1299709)
        props = {"p:score": str((i * mult + s * off) % 1000),
                 "p:v": str(version)}
        refs = {"p:org": [f"org:{(i * 31 + s) % N_ORGS}"]}
        deleted = version == 2 and sync_tombstone(i, seed)
    else:
        props = {"p:tier": str(((i if version == 1 else i * 3) + s) % 5),
                 "p:w": str(version)}
        refs = {}
        deleted = False
    return {"id": f"person:{i}", "deleted": deleted, "props": props,
            "refs": refs}


def sync_frame(spark, ds: str, lo: int, hi: int, version: int, seed: int):
    """Spark-side twin of ``sync_entity`` for ids [lo, hi)."""
    from pyspark.sql import functions as F

    s = _mix(seed)
    i = F.col("id")
    if ds == SYNC_MAIN:
        mult, off = (7919, 104729) if version == 1 else (7927, 1299709)
        props = F.create_map(
            F.lit("p:score"), ((i * mult + s * off) % 1000).cast("string"),
            F.lit("p:v"), F.lit(str(version)))
        refs = F.create_map(
            F.lit("p:org"),
            F.array(F.concat(F.lit("org:"),
                             ((i * 31 + s) % N_ORGS).cast("string"))))
        deleted = F.lit(version == 2) & ((i * 13 + s) % 100 < 3)
    else:
        base = i if version == 1 else i * 3
        props = F.create_map(
            F.lit("p:tier"), ((base + s) % 5).cast("string"),
            F.lit("p:w"), F.lit(str(version)))
        refs = F.create_map().cast("map<string,array<string>>")
        deleted = F.lit(False)
    return spark.range(lo, hi).select(
        F.concat(F.lit("person:"), i.cast("string")).alias("id"),
        F.lit(None).cast("long").alias("recorded"),
        i.alias("seq"),
        deleted.alias("deleted"),
        props.alias("props"),
        refs.alias("refs"))


def sync_merged(i: int, seed: int) -> dict:
    """Expected /query merge of person:i after the preload: tombstoned
    partials contribute nothing; the partials' keys are disjoint."""
    props: dict = {}
    main = sync_entity(SYNC_MAIN, i, 2, seed)
    if not main["deleted"]:
        props.update(main["props"])
    props.update(sync_entity(SYNC_EXT, i, 2, seed)["props"])
    return props


# -- ingest tenant (fits the /query index) ----------------------------------

LIVE = "live"
N_LIVE_ORGS = 97


class IngestModel:
    """Producer-side model of the ingest dataset: the payload each id
    holds now and how many versions it has. Batches mix ~40% new ids,
    ~50% updates skewed toward recently written ids and ~10% unchanged
    re-sends that write-time dedup should drop."""

    def __init__(self, seed: int, initial: int, batch: int = 1000):
        if initial < 2 * batch:
            # updates and re-sends draw distinct existing ids
            raise ValueError(f"initial must be at least {2 * batch}")
        self.rng = random.Random(seed * 7 + 1)
        self.batch = batch
        self.current: dict[str, dict] = {}
        self.versions: dict[str, int] = {}
        self.order: list[str] = []  # ids by first write
        for i in range(initial):
            self._put(self._new(i), count=True)

    def _new(self, i: int) -> dict:
        return {"id": f"live:{i}", "deleted": False,
                "props": {"p:name": f"live-{i}", "p:rev": "0",
                          "p:val": str(self.rng.randrange(10 ** 9))},
                "refs": {"p:org": [f"org:{i % N_LIVE_ORGS}"]}}

    def _put(self, ent: dict, count: bool) -> None:
        eid = ent["id"]
        if eid not in self.current:
            self.order.append(eid)
        self.current[eid] = ent
        if count:
            self.versions[eid] = self.versions.get(eid, 0) + 1

    def next_batch(self) -> tuple[list[dict], set[str]]:
        """(entities to send, ids whose payload changes)."""
        n_new = self.batch * 4 // 10
        n_upd = self.batch // 2
        picked: set[str] = set()
        out, changed = [], set()
        for _ in range(n_new):
            ent = self._new(len(self.order) + len(picked))
            picked.add(ent["id"])
            out.append(ent)
        hot = self.order[-2000:]
        while len(picked) < n_new + n_upd:
            pool = hot if self.rng.random() < 0.8 else self.order
            eid = pool[self.rng.randrange(len(pool))]
            if eid in picked:
                continue
            picked.add(eid)
            cur = self.current[eid]
            props = dict(cur["props"])
            props["p:rev"] = str(int(props["p:rev"]) + 1)
            props["p:val"] = str(self.rng.randrange(10 ** 9))
            out.append({"id": eid, "deleted": False, "props": props,
                        "refs": cur["refs"]})
        while len(picked) < self.batch:
            eid = self.order[self.rng.randrange(len(self.order))]
            if eid in picked:
                continue
            picked.add(eid)
            out.append(self.current[eid])
        for ent in out:
            if ent["id"] not in self.current or \
                    self.current[ent["id"]] is not ent:
                changed.add(ent["id"])
        return out, changed

    def acknowledge(self, sent: list[dict], changed: set[str]) -> None:
        for ent in sent:
            self._put(ent, count=ent["id"] in changed)


def live_frame(spark, ents: list[dict]):
    from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA

    rows = [(e["id"], None, 0, e["deleted"], e["props"], e["refs"], None)
            for e in ents]
    return spark.createDataFrame(rows, SCRIPT_OUTPUT_SCHEMA).drop("dataset")


# -- transform job ------------------------------------------------------------

SRC, DIM, OUT = "src", "dim", "out"
N_DIM = 50


def src_frame(spark, n: int, seed: int):
    """The preloaded source (cycle 0). Each entity refers to one
    dimension entity (``src_dim_of``); the job copies its label."""
    from pyspark.sql import functions as F

    s = _mix(seed)
    i = F.col("id")
    return spark.range(0, n).select(
        F.concat(F.lit("src:"), i.cast("string")).alias("id"),
        F.lit(None).cast("long").alias("recorded"),
        i.alias("seq"),
        F.lit(False).alias("deleted"),
        F.create_map(
            F.lit("p:name"), F.concat(F.lit("n"), i.cast("string")),
            F.lit("p:cycle"), F.lit("0")).alias("props"),
        F.create_map(
            F.lit("p:dim"),
            F.array(F.concat(F.lit("dim:"),
                             ((i * 7 + s) % N_DIM).cast("string")))
        ).alias("refs"))


def src_dim_of(i: int, cycle: int, seed: int) -> str:
    return f"dim:{(i * 7 + _mix(seed) + cycle) % N_DIM}"


def dim_label(d: str, seed: int) -> str:
    return f"label-{d.split(':')[1]}-{_mix(seed) % 97}"


def dim_frame(spark, seed: int):
    from pyspark.sql import functions as F

    s = _mix(seed) % 97
    i = F.col("id").cast("string")
    return spark.range(0, N_DIM).select(
        F.concat(F.lit("dim:"), i).alias("id"),
        F.lit(None).cast("long").alias("recorded"),
        F.lit(0).cast("long").alias("seq"),
        F.lit(False).alias("deleted"),
        F.create_map(F.lit("p:label"),
                     F.concat(F.lit("label-"), i, F.lit(f"-{s}"))).alias("props"),
        F.create_map().cast("map<string,array<string>>").alias("refs"))


JOB_SCRIPT = """
function transform_entities(entities) {
    for (e of entities) {
        var refs = GetReference(e, "p", "dim", []);
        var d = FindById(refs[0]);
        SetProperty(e, "p", "label", GetProperty(d, "p", "label", "none"));
        RemoveProperty(e, "p", "touch");
    }
    return entities;
}
"""


def cycle_ids(cycle: int, n_src: int, per_cycle: int, seed: int) -> range:
    """The contiguous id window a change cycle rewrites (wraps around)."""
    lo = (cycle * per_cycle + _mix(seed)) % max(n_src - per_cycle, 1)
    return range(lo, lo + per_cycle)
