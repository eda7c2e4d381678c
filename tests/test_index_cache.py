"""Warm index handles (registry._index_handle): a registry loads each
persisted IVF / multivector IVF / BM25 layout once and reuses the
handle while the layout's file listing is unchanged.

Three contracts are pinned here:

- warm == cold: a search through a reused handle returns exactly the
  rows a fresh registry (nothing cached) returns, for every layout kind,
  with pre-filter ``conditions`` and for the batch variants;
- freshness: every operation that changes a layout — rebuild, extend,
  compaction, recluster, drop + re-create, and another registry's
  append + extend on the same root — is seen by the next search,
  with no invalidation hook in the mutators;
- concurrency: threads searching at once through one registry (the
  service's ``ThreadingHTTPServer`` shape) agree and load once;

plus the gain itself, in Spark jobs per warm query.
"""

import random
import sys
import threading
import uuid

import pytest

from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import AnyOf, Column, Keyword, MultiVector, TableSpec, Vector

DIM = 8
CENTERS = [[0.0] * DIM, [4.0] * DIM, [0.0] * 4 + [4.0] * 4, [4.0] * 4 + [0.0] * 4]
WORDS = [f"w{i}" for i in range(40)]
QUERY = [0.1] * DIM
TEXT_QUERY = "w1 w2 w3"


def _spec():
    return TableSpec(
        "doc",
        [
            Column("uid", "long", primary_key=True),
            Column("tag", "string"),
            Column("text", Keyword()),
            Column("vec", Vector(DIM)),
            Column("mvec", MultiVector(DIM)),
        ],
    )


def _rows(ids, center=None, seed=0):
    rng = random.Random(seed)
    out = []
    for i in ids:
        c = center if center is not None else CENTERS[i % len(CENTERS)]
        vec = [x + rng.uniform(-0.5, 0.5) for x in c]
        out.append(
            {
                "uid": i,
                "tag": "ab"[i % 2],
                "text": " ".join(rng.choice(WORDS) for _ in range(8)),
                "vec": vec,
                "mvec": [vec, [x + rng.uniform(-0.5, 0.5) for x in c]],
            }
        )
    return out


def _registry(spark, root, ns):
    reg = VechordRegistry(ns, str(root), spark)
    reg.register(_spec())
    return reg


def _built(spark, tmp_path, ns, vector_only=False, **ivf_opts):
    reg = _registry(spark, tmp_path, ns)
    reg.insert_rows("doc", _rows(range(120)))
    reg.build_vector_index("doc", lists=4, **ivf_opts)
    if not vector_only:
        reg.build_multivec_index("doc", lists=4)
        reg.build_keyword_index("doc")
    return reg


def _collect(df):
    return [tuple(r) for r in df.collect()]


def _searches(reg, vector_only=False):
    """Every probe-search shape the handles serve, as collected rows."""
    cond = {"tag": "a"}
    out = {
        "vector": _collect(reg.search_by_vector("doc", QUERY, topk=5, probes=2)),
        "vector_cond": _collect(
            reg.search_by_vector("doc", QUERY, topk=5, probes=2, conditions=cond)
        ),
        "vector_batch": _collect(
            reg.search_by_vector_batch(
                "doc", [QUERY, CENTERS[1]], topk=5, probes=2, conditions=cond
            )
        ),
    }
    if vector_only:
        return out
    return out | {
        "multivec": _collect(
            reg.search_by_multivec("doc", [QUERY, CENTERS[2]], topk=5, probes=2)
        ),
        "multivec_cond": _collect(
            reg.search_by_multivec(
                "doc", [QUERY], topk=5, probes=2,
                conditions={"tag": AnyOf(["b"])},
            )
        ),
        "multivec_batch": _collect(
            reg.search_by_multivec_batch(
                "doc", [[QUERY], [CENTERS[1]]], topk=5, probes=2
            )
        ),
        "keyword": _collect(reg.search_by_keyword("doc", TEXT_QUERY, topk=5)),
        "keyword_cond": _collect(
            reg.search_by_keyword("doc", TEXT_QUERY, topk=5, conditions=cond)
        ),
        "keyword_batch": _collect(
            reg.search_by_keyword_batch(
                "doc", [TEXT_QUERY, "w7 w8"], topk=5, conditions=cond
            )
        ),
    }


def _top_uid(reg, vec, text):
    return (
        reg.search_by_vector("doc", vec, topk=1, probes=1).collect()[0].uid,
        reg.search_by_multivec("doc", [vec], topk=1, probes=1).collect()[0].uid,
        reg.search_by_keyword("doc", text, topk=1).collect()[0].uid,
    )


def _handles(reg, kinds=("ivf", "mvivf", "bm25")):
    return tuple(reg._index_handle(k, "doc") for k in kinds)


# ----------------------------------------------------------- warm == cold
@pytest.mark.parametrize(
    "opts",
    [{}, {"pq_m": 2, "pq_ksub": 8}, {"rabitq": True}],
    ids=["plain", "pq", "rabitq"],
)
def test_warm_search_equals_cold(spark, tmp_path, opts):
    # the multivector and BM25 layouts do not vary with the IVF options
    vector_only = bool(opts)
    kinds = ("ivf",) if vector_only else ("ivf", "mvivf", "bm25")
    reg = _built(spark, tmp_path, "wc", vector_only, **opts)
    handles = _handles(reg, kinds)  # loads every layout
    assert all(h is not None for h in handles)
    warm = _searches(reg, vector_only)
    # every search ran on the SAME handles (hits, not reloads)
    assert all(a is b for a, b in zip(handles, _handles(reg, kinds)))
    cold = _searches(_registry(spark, tmp_path, "wc"), vector_only)
    assert warm == cold
    assert all(warm.values())


def test_missing_layout_is_not_cached(spark, tmp_path):
    reg = _registry(spark, tmp_path, "none")
    reg.insert_rows("doc", _rows(range(20)))
    assert reg._index_handle("ivf", "doc") is None
    assert reg._index_cache == {}
    reg.build_vector_index("doc", lists=2)
    assert reg._index_handle("ivf", "doc") is not None


# ------------------------------------------------------------- freshness
def test_rebuild_is_seen(spark, tmp_path):
    reg = _built(spark, tmp_path, "rb")
    before = _handles(reg)
    new = _rows([900], center=[9.0] * DIM)
    new[0]["text"] = "zzrebuilt " + new[0]["text"]
    reg.insert_rows("doc", new)
    reg.build_vector_index("doc", lists=5)
    reg.build_multivec_index("doc", lists=5)
    reg.build_keyword_index("doc")
    after = _handles(reg)
    assert all(a is not b for a, b in zip(before, after))
    assert after[0].lists == 5 and after[1].lists == 5
    assert _top_uid(reg, [9.0] * DIM, "zzrebuilt") == (900, 900, 900)


def test_extends_are_seen(spark, tmp_path):
    reg = _built(spark, tmp_path, "ext")
    _searches(reg)  # warm every handle
    new = _rows([900], center=[0.05] * DIM)
    new[0]["text"] = "zzfresh " + new[0]["text"]
    reg.insert_rows("doc", new)
    q = new[0]["vec"]
    # appended rows reach the layouts only through an extend: until
    # then the warm handle is still the current layout
    assert reg.search_by_vector("doc", q, topk=1, probes=1).collect()[0].uid != 900
    assert reg.search_by_keyword("doc", "zzfresh").collect() == []
    assert reg.extend_vector_index("doc") == 1
    assert reg.search_by_vector("doc", q, topk=1, probes=1).collect()[0].uid == 900
    assert reg.extend_multivec_index("doc") == 1
    got = reg.search_by_multivec("doc", new[0]["mvec"], topk=1, probes=1)
    assert got.collect()[0].uid == 900
    assert reg.extend_keyword_index("doc") == 1
    assert [r.uid for r in reg.search_by_keyword("doc", "zzfresh").collect()] == [900]


def test_compaction_is_seen(spark, tmp_path):
    reg = _built(spark, tmp_path, "cmp")
    rows = _searches(reg)
    before = _handles(reg)
    reg.compact_index("doc")
    # the old handles list part files the compaction deleted; a reused
    # one would fail its scan — each kind must reload, same rows
    assert all(a is not b for a, b in zip(before, _handles(reg)))
    assert _searches(reg) == rows


def test_recluster_is_seen(spark, tmp_path):
    reg = _registry(spark, tmp_path, "rcl")
    reg.insert_rows("doc", _rows(range(10), center=[0.0] * DIM))
    reg.insert_rows("doc", _rows(range(10, 20), center=[5.0] * DIM))
    reg.build_vector_index("doc", lists=2)
    reg.insert_rows("doc", _rows(range(100, 160), center=[5.0] * 7 + [9.0]))
    assert reg.extend_vector_index("doc") == 60
    assert reg._index_handle("ivf", "doc").lists == 2
    stats = reg.recluster_vector_index("doc", max_cell_factor=1.5)
    assert stats["split_cells"] >= 1
    assert reg._index_handle("ivf", "doc").lists == stats["lists"]
    exact = _collect(reg.search_by_vector("doc", [5.0] * 7 + [9.0], topk=5))
    probed = reg.search_by_vector(
        "doc", [5.0] * 7 + [9.0], topk=5, probes=stats["lists"]
    )
    assert _collect(probed) == exact


def test_drop_and_recreate_is_seen(spark, tmp_path):
    reg = _built(spark, tmp_path, "drp")
    _searches(reg)
    spec = reg.tables["doc"]
    reg.drop("doc")
    # the same spec object: only the layout listing tells old from new
    reg.register(spec)
    reg.insert_rows("doc", _rows(range(500, 540), seed=5))
    reg.build_vector_index("doc", lists=2)
    reg.build_multivec_index("doc", lists=2)
    reg.build_keyword_index("doc")
    got = _searches(reg)
    for kind in ("vector", "multivec", "keyword"):
        assert got[kind] and {r[0] for r in got[kind]} <= set(range(500, 540)), kind


def test_other_registry_writes_are_seen(spark, tmp_path):
    reg = _registry(spark, tmp_path, "two")
    reg.insert_rows("doc", _rows(range(120)))
    reg.build_vector_index("doc", lists=4)
    reg.build_keyword_index("doc")
    before = _handles(reg, ("ivf", "bm25"))
    other = _registry(spark, tmp_path, "two")
    new = _rows([900], center=[0.05] * DIM)
    new[0]["text"] = "zzother " + new[0]["text"]
    other.insert_rows("doc", new)
    other.extend_vector_index("doc")
    other.extend_keyword_index("doc")
    assert all(a is not b for a, b in zip(before, _handles(reg, ("ivf", "bm25"))))
    q = new[0]["vec"]
    assert reg.search_by_vector("doc", q, topk=1, probes=1).collect()[0].uid == 900
    assert [r.uid for r in reg.search_by_keyword("doc", "zzother").collect()] == [900]


# ----------------------------------------------------------- concurrency
def test_concurrent_searches_agree_and_load_once(spark, tmp_path):
    _built(spark, tmp_path, "conc", vector_only=True)
    reg = _registry(spark, tmp_path, "conc")  # cold: nothing cached
    loads = []
    load = reg._load_vector_index

    def counting_load(name):
        loads.append(name)
        return load(name)

    reg._load_vector_index = counting_load
    n = 8  # more threads than the session's 4 cores
    barrier = threading.Barrier(n, timeout=60)
    results, errors = [None] * n, []

    def worker(i):
        try:
            barrier.wait()
            results[i] = _collect(
                reg.search_by_vector("doc", QUERY, topk=5, probes=2)
            )
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the check-then-load often
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(loads) == 1
    assert results[0] and all(r == results[0] for r in results)


# ------------------------------------------------------------- job counts
def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"index-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_query_job_counts(spark, tmp_path):
    reg = _built(spark, tmp_path, "jobs")
    calls = {
        "ivf": lambda: reg.search_by_vector("doc", QUERY, topk=5, probes=2).collect(),
        "maxsim": lambda: reg.search_by_multivec(
            "doc", [QUERY, CENTERS[1]], topk=5, probes=2
        ).collect(),
        "bm25": lambda: reg.search_by_keyword("doc", TEXT_QUERY, topk=5).collect(),
    }
    for call in calls.values():
        call()  # warm the handle (and the BM25 corpus stats)
    jobs = {kind: _jobs(spark, call) for kind, call in calls.items()}
    # the scan is the only job left of an IVF / MaxSim probe query
    assert jobs["ivf"] == 1, jobs
    assert jobs["maxsim"] == 1, jobs
    assert jobs["bm25"] <= 6, jobs
