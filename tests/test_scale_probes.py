"""Invariants of the scale-probe corpus generators (tools/make_scale10).

The fixed-density mode's linearity claim (SCALING.md round-7) rests on
two constructions that are easy to silently break:

- replica shingle spaces must be DISJOINT (every trigram carries the
  replica tag), or candidates compound quadratically in replicas;
- per-replica structure must be IDENTICAL up to the tag rename, or
  "pairs = replicas x per-replica pairs" stops holding.

These checks run in DuckDB over a tiny 2-replica build from sf0.001 —
no Spark session needed."""

import os
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SRC = "/root/testdata/sf0.001"

SHINGLE_SQL = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM read_parquet('{d}/documents.parquet')
), shing AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' ')))
              ELSE [array_to_string(w, ' ')] END AS shs
  FROM words
)
SELECT doc_id, unnest(shs) AS s FROM shing
"""


@pytest.fixture(scope="module")
def dens_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dens"))
    env = dict(os.environ, SCALE_SRC_DIR=SRC)
    subprocess.run(
        [sys.executable, "tools/make_scale10.py", out, "2", "docs-density"],
        cwd=ROOT, env=env, check=True, capture_output=True,
        timeout=120,
    )
    return out


def _build(tmp_path_factory, replicas: int, mode: str) -> str:
    out = str(tmp_path_factory.mktemp(f"{mode}{replicas}"))
    env = dict(os.environ, SCALE_SRC_DIR=SRC)
    subprocess.run(
        [sys.executable, "tools/make_scale10.py", out, str(replicas), mode],
        cwd=ROOT, env=env, check=True, capture_output=True,
        timeout=120,
    )
    return out


def _ed_counts(d: str) -> dict:
    """The d13 DuckDB counters from tools/probe_counts.py (subprocess:
    the tools dir is not a package)."""
    import ast

    r = subprocess.run(
        [sys.executable, "tools/probe_counts.py", d],
        cwd=ROOT, check=True, capture_output=True, text=True,
        timeout=300, env=dict(os.environ, PROBE_ONLY="d13"),
    )
    return ast.literal_eval(r.stdout.strip().split(" ", 1)[1])


def test_fixed_delta_construction_and_ed_linearity(tmp_path_factory):
    """Pins the fixed-delta probe corpus (SCALING.md round-8, the ED
    family's 100 TB evidence) the way the dens tests pin docs-density:

    - the snapshot slice (doc_id % 10 >= 8) stays EXACTLY the base
      slice at any replica count (replicas shift ids by a stride
      divisible by 10 and drop their snapshot-eligible rows);
    - the corpus side grows exactly replicas × the base corpus;
    - therefore d13's gram-join / candidate / verified-pair volumes
      are exactly linear in the replica count (2→4 replicas ⇒ 2.000×),
      which is the linearity the 10×/100× SCALING.md rows extrapolate.
    """
    con = duckdb.connect()
    base_snap, base_corp = con.execute(
        f"SELECT count(*) FILTER (doc_id % 10 >= 8),"
        f" count(*) FILTER (doc_id % 10 < 8)"
        f" FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()
    dirs = {n: _build(tmp_path_factory, n, "fixed-delta") for n in (2, 4)}
    for n, d in dirs.items():
        snap, corp = con.execute(
            f"SELECT count(*) FILTER (doc_id % 10 >= 8),"
            f" count(*) FILTER (doc_id % 10 < 8)"
            f" FROM read_parquet('{d}/documents.parquet')"
        ).fetchone()
        assert snap == base_snap, (n, snap, base_snap)
        assert corp == n * base_corp, (n, corp, base_corp)
    c2, c4 = _ed_counts(dirs[2]), _ed_counts(dirs[4])
    for key in ("d13_gram_join_rows", "d13_candidates", "d13_verified_pairs"):
        assert c4[key] == 2 * c2[key], (key, c2[key], c4[key])


def test_density_replica_shingle_spaces_disjoint(dens_dir):
    con = duckdb.connect()
    cross = con.execute(
        f"WITH sh AS ({SHINGLE_SQL.format(d=dens_dir)}) "
        "SELECT count(*) FROM ("
        "  SELECT s FROM sh GROUP BY s"
        "  HAVING count(DISTINCT doc_id // 100000) > 1)"
    ).fetchone()[0]
    assert cross == 0, f"{cross} shingles span replicas"


def test_density_per_replica_structure_identical(dens_dir):
    """Candidate volume and doc counts per replica must be equal — the
    'pairs = replicas x per-replica pairs' linearity precondition."""
    con = duckdb.connect()
    rows = con.execute(
        f"WITH sh AS ({SHINGLE_SQL.format(d=dens_dir)}) "
        "SELECT doc_id // 100000 AS rep,"
        "       count(DISTINCT doc_id) AS docs,"
        "       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand"
        " FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS c"
        "       FROM sh)"
        " GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert len(rows) == 2
    assert rows[0][1:] == rows[1][1:], rows


def test_density_twins_are_near_dups(dens_dir):
    """Every constructed twin (doc_id % stride >= 50000) must share
    nearly all shingles with its parent (J >= 0.9 > the 0.6 engine
    threshold), and no twin may be missing."""
    con = duckdb.connect()
    n_base = con.execute(
        f"SELECT count(*) FROM read_parquet('{SRC}/documents.parquet')"
        " WHERE doc_id % 50 = 0"
    ).fetchone()[0]
    twins = con.execute(
        f"SELECT count(*) FROM read_parquet('{dens_dir}/documents.parquet')"
        " WHERE doc_id % 100000 >= 50000"
    ).fetchone()[0]
    assert twins == 2 * n_base
    bad = con.execute(
        f"WITH sh AS ({SHINGLE_SQL.format(d=dens_dir)}), "
        "n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) "
        "SELECT count(*) FROM ("
        "  SELECT t.doc_id,"
        "         count(*) * 1.0 /"
        "         (any_value(np.n) + any_value(nt.n) - count(*)) AS j"
        "  FROM sh t JOIN sh p"
        "    ON p.s = t.s AND p.doc_id = t.doc_id - 50000"
        "  JOIN n np ON np.doc_id = p.doc_id"
        "  JOIN n nt ON nt.doc_id = t.doc_id"
        "  WHERE t.doc_id % 100000 >= 50000"
        "  GROUP BY t.doc_id) WHERE j < 0.9"
    ).fetchone()[0]
    assert bad == 0
