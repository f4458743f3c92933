"""The serving path's in-memory (term, slab) inventory
(SearchEngine._slabs_for / _slab_inventory) against a brute-force read
of the same parquet files: slab sets and summed df per term, for
present and absent terms, non-ASCII terms, several unsorted files and
a null df.  Pure pyarrow: no Spark session."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.engine import SearchEngine


def _engine_over(index_dir) -> SearchEngine:
    eng = SearchEngine.__new__(SearchEngine)
    eng.index_dir = str(index_dir)
    eng._term_slab_cache = {}
    eng._term_df_sum = {}
    eng._inventory = None
    return eng


def _write(index_dir, rows, n_files):
    d = index_dir / "term_slabs"
    d.mkdir(parents=True)
    schema = pa.schema([("term", pa.string()), ("slab", pa.int32()),
                        ("n_chunks", pa.int32()), ("df", pa.int64())])
    for i in range(n_files):
        part = rows[i::n_files]
        pq.write_table(pa.table({
            "term": [r[0] for r in part],
            "slab": [r[1] for r in part],
            "n_chunks": [1] * len(part),
            "df": [r[2] for r in part],
        }, schema=schema), d / f"part-{i}.parquet")


def test_inventory_matches_brute_force(tmp_path):
    rng = random.Random(11)
    alpha = "abcz09_éß中"
    terms = sorted({
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
        for _ in range(400)
    })
    rows = []
    for t in terms:
        for s in rng.sample(range(12), rng.randint(1, 4)):
            rows.append((t, s, rng.randint(1, 50)))
    rows.append((terms[0], 99, None))  # a null df counts as 0
    rng.shuffle(rows)
    _write(tmp_path, rows, 3)
    eng = _engine_over(tmp_path)
    want_slabs: dict[str, set] = {}
    want_df: dict[str, int] = {}
    for t, s, d in rows:
        want_slabs.setdefault(t, set()).add(s)
        want_df[t] = want_df.get(t, 0) + (d or 0)
    probes = terms + ["", "absent", "zzzzzzzz", "a" * 9, "中中", "\U0001f600"]
    rng.shuffle(probes)
    for t in probes:
        assert eng._slabs_for([t]) == want_slabs.get(t, set())
        assert eng._term_df_sum[t] == want_df.get(t, 0)
    assert eng._slabs_for(terms[:5]) == set().union(
        *(want_slabs[t] for t in terms[:5]))


def test_empty_inventory(tmp_path):
    _write(tmp_path, [], 1)
    eng = _engine_over(tmp_path)
    assert eng._slabs_for(["a", "b"]) == set()
    assert eng._term_df_sum == {"a": 0, "b": 0}


def test_inventory_read_once(tmp_path):
    """The inventory is read once; later lookups, of new terms too, do
    no IO (the files may even be gone)."""
    import shutil

    _write(tmp_path, [("a", 1, 3), ("b", 2, 4), ("a", 3, 5)], 2)
    eng = _engine_over(tmp_path)
    assert eng._slabs_for(["a"]) == {1, 3}
    shutil.rmtree(tmp_path / "term_slabs")
    assert eng._slabs_for(["b", "c"]) == {2}
    assert (eng._term_df_sum["a"], eng._term_df_sum["b"]) == (8, 4)
