"""Session-wide scratch/memo registry with two release rules.

A suite session runs 178 queries against ONE executor storage pool.
Left alone, every memoized persisted artifact (shingle streams, pair
graphs, inverted/positional indexes, IVF/PQ codebooks) accumulated
until the pool thrashed: measured p14 median 12.6 s in-suite vs 2.1 s
isolated at sf0.1, d07 131 s vs 24.7 s at 10x. Two tiers, one rule
each, bound that:

- **scratch** (single-consumer persisted interims): keyed by the owning
  query family ("d07", "d07_prefix", "v09_cent", "d08.labels" all
  belong to families d07/v09/d08 — the key's leading token). A
  persisted interim cannot be unpersisted before its consumer action
  runs (laziness), so release is deferred — but only until the NEXT
  query begins: :func:`begin_query` frees every other family's
  scratch, bounding the pool to one query's working set instead of the
  whole suite's history. (:func:`scratch_persist` additionally frees
  the previous generation of the SAME key, so per-op loops — k-means
  iterations, label propagation — stay bounded within one query too.)

- **memo groups** (build-once shared artifacts consumed across queries:
  the d10/d11/d13/d14 gram relations, the d08/d12 pair graph, IVF/PQ
  indexes): registered with a release callback by :func:`memo_touch`
  and released once they go more than :data:`MEMO_AGE_CAP` dispatches
  without a touch, or by :func:`release_all`. Groups are keyed per
  (kind, session, sf_dir[, params]), so a probe run against a
  different corpus dir ages out the stale corpus' index.

The age rule is the only memo rule because it is the only one that
fires: every full-suite bench run (688–712 dispatches at 16g, and one
at 4g driver memory) evicted 6 groups by age and none by a count cap or
a cached-bytes budget (1.19 GB at 4g, against 17 MB of sf0.1 input).

SEQUENTIAL-DISPATCH CONTRACT: :func:`begin_query` assumes the previous
query's consumer action has already run — the driver, bench.py and
driver_sim all dispatch queries sequentially (construct → materialize
→ next). A caller that constructs several query DataFrames before
materializing any silently loses the persisted interims and pays full
(correctness-safe) recomputation. :func:`eviction_stats` exposes
per-class eviction counters so such a regression is visible in bench
output instead of only as inflated wall-clock.

Eviction is always correctness-safe: ``unpersist()`` on a relation a
later plan still references silently recomputes it — the policy can
only cost a rebuild, never wrong rows.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame

#: single-consumer scratch: key -> persisted generations (usually one)
_SCRATCH: dict[str, list[DataFrame]] = {}

#: shared build-once memos: group key -> [release callback, last-touch
#: query ordinal]
_MEMO_GROUPS: dict[Hashable, list] = {}

#: memo AGE cap, in queries: a group untouched for more than this many
#: begin_query calls is released. The consumers of every shared memo
#: are family-clustered (the ed grams feed d10–d14, the pair graph
#: d08/d12/p12, the indexes their own v-query's bench reps), so a group
#: idle for 12 dispatches has no upcoming consumer in any real run
#: order — holding it only taxes memory-intensive unrelated queries
#: (measured: v04 15.7 s in-suite vs 4.3 s isolated at 10x with the
#: d-family memos resident).
MEMO_AGE_CAP = 12

#: per-class eviction counters (see eviction_stats) — "scratch" counts
#: foreign-family scratch releases at begin_query, "memo_age" counts
#: shared groups released by the age rule. A suite run whose "scratch"
#: count far exceeds its dispatch count signals the sequential-dispatch
#: contract is being violated (interims released before their consumer
#: action ran).
_EVICTIONS = {"scratch": 0, "memo_age": 0}

#: monotone dispatch counter (bumped by begin_query) — the age clock.
_QUERY_ORDINAL = [0]


def eviction_stats() -> dict[str, int]:
    """Copy of the per-class eviction counters plus the dispatch count
    (``dispatches``); bench.py records this in bench_results.json so
    eviction-policy regressions are visible next to the timings.
    ``memo_cap`` and ``memo_bytes`` are always 0: their rules are gone,
    and the keys stay only because perfbench reads them by name."""
    return dict(
        _EVICTIONS, memo_cap=0, memo_bytes=0, dispatches=_QUERY_ORDINAL[0]
    )


def _family(key: str) -> str:
    """Owning query family of a scratch key: the leading token before
    any ``.`` or ``_`` separator ("d07_prefix" -> "d07", "d08.labels"
    -> "d08", "v09_cent" -> "v09")."""
    return key.split(".", 1)[0].split("_", 1)[0]


def release_key(key: str) -> None:
    """Unpersist and drop every generation registered under ``key``."""
    for old in _SCRATCH.pop(key, []):
        try:
            old.unpersist()
        except Exception:
            pass


def scratch_persist(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as the current scratch generation for ``key``,
    releasing the previous generation (consumed by now — the caller's
    prior action has run, or the caller is iterating and has
    materialized the new generation's input)."""
    release_key(key)
    _SCRATCH[key] = [df.persist()]
    return df


def scratch_persist_eager(key: str, df: DataFrame) -> DataFrame:
    """:func:`scratch_persist` + an immediate cheap materializing
    action. Use when the persisted interim's FIRST consumers are
    several CONCURRENT jobs (AQE leaf query stages, broadcast builds):
    each reader of an unmaterialized cache launches its own copy of the
    child plan, so the expensive subtree executes once per racing
    consumer (observed r12: t09's explode+agg subtree ran 3× per
    invocation, d04's shingle fill twice — the m06 pathology). The
    ``count()`` completes the fill ONCE before any consumer launches;
    consumers then read InMemoryTableScan. This is a scheduling
    barrier, not result caching — the relation is recomputed from the
    parquet inputs on every invocation exactly as with
    :func:`scratch_persist`."""
    df = scratch_persist(key, df)
    df.count()
    return df


def scratch_pin(key: str, df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted handle under ``key`` (for callers
    that persist mid-loop and hand over the final pinned generation)."""
    release_key(key)
    _SCRATCH[key] = [df]
    return df


def begin_query(name: str) -> None:
    """Mark the start of query ``name``: release every OTHER family's
    single-consumer scratch (the scratch rule), then release every
    shared memo group that has gone more than :data:`MEMO_AGE_CAP`
    dispatches without a touch (the memo rule).

    CONTRACT (sequential dispatch): queries run one at a time through
    the driver/bench dispatch — construct, materialize, then the next
    query begins — so foreign scratch has no pending consumer by the
    time this runs. A caller that constructs several query DataFrames
    before materializing any loses the persisted interims (recomputed
    correctly, but at full cost); the ``scratch`` eviction counter
    makes that visible."""
    fam = _family(name)
    for key in [k for k in _SCRATCH if _family(k) != fam]:
        release_key(key)
        _EVICTIONS["scratch"] += 1
    _QUERY_ORDINAL[0] += 1
    now = _QUERY_ORDINAL[0]
    for group in [
        g
        for g, (_, touched) in _MEMO_GROUPS.items()
        if now - touched > MEMO_AGE_CAP
    ]:
        _release_group(group)
        _EVICTIONS["memo_age"] += 1


def memo_touch(group: Hashable, release: Callable[[], None]) -> None:
    """Register a shared memo group, or restart its age clock.

    ``release`` must free the group's persisted relations AND remove
    its entries from the owning module's memo dict, so a later consumer
    rebuilds instead of reading unpersisted ghosts. A group already
    registered keeps its first callback. Any number of groups may be
    resident at once; :func:`begin_query` releases a group once it has
    gone more than :data:`MEMO_AGE_CAP` dispatches without a touch —
    the only memo rule, because a group count cap and a cached-bytes
    budget never fired in a full suite run.
    """
    _MEMO_GROUPS.setdefault(group, [release, 0])[1] = _QUERY_ORDINAL[0]


def _release_group(group: Hashable) -> None:
    """Drop ``group`` from the registry and run its release callback."""
    release, _ = _MEMO_GROUPS.pop(group)
    try:
        release()
    except Exception:
        pass


def release_all() -> None:
    """Free everything: all scratch generations and all memo groups.
    bench.py calls this before an isolated re-measurement pass so the
    storage pool starts empty, matching a fresh-session run."""
    for key in list(_SCRATCH):
        release_key(key)
    for group in list(_MEMO_GROUPS):
        _release_group(group)


def resident() -> dict[str, list[str]]:
    """Debug/test view: current scratch keys and memo group reprs."""
    return {
        "scratch": sorted(_SCRATCH),
        "memo_groups": [repr(g) for g in _MEMO_GROUPS],
    }
