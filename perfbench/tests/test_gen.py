"""Generator determinism and schema fidelity."""

import pyarrow.parquet as pq
import pytest

from perfbench import gen


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    table, _fn = gen.GENERATORS[workload]
    m1 = gen.generate(str(tmp_path / "a"), workload, 7)
    m2 = gen.generate(str(tmp_path / "b"), workload, 7)
    m3 = gen.generate(str(tmp_path / "c"), workload, 8)
    t1, t2, t3 = (pq.read_table(str(tmp_path / d / f"{table}.parquet")) for d in "abc")
    assert t1.equals(t2) and m1["tables"] == m2["tables"]
    assert not t1.equals(t3)
    assert t1.schema.remove_metadata() == gen.SCHEMAS[table]


def test_planted_duplicates(tmp_path):
    info = gen.gen_documents(str(tmp_path / "d.parquet"), 3)
    texts = dict(zip(*pq.read_table(str(tmp_path / "d.parquet"),
                                    columns=["doc_id", "text"]).to_pydict().values()))
    assert len(texts) == gen.N_DOCS
    assert len(info["exact_dups"]) == round(gen.N_DOCS * gen.EXACT_DUP_SHARE)
    assert len(info["near_dups"]) == round(gen.N_DOCS * gen.NEAR_DUP_SHARE)
    for dup, src in info["exact_dups"].items():
        assert texts[int(dup)] == texts[src] and int(dup) > src
    for dup, src in info["near_dups"].items():
        a, b = texts[int(dup)].split(), texts[src].split()
        assert len(a) == len(b) and 0 < sum(x != y for x, y in zip(a, b)) <= max(1, len(a) // 40)


def test_events_shape(tmp_path):
    info = gen.gen_events(str(tmp_path / "e.parquet"), 1)
    t = pq.read_table(str(tmp_path / "e.parquet")).to_pandas()
    assert info["rows"] == len(t) and t["user_id"].nunique() == gen.N_USERS
    assert t["ts"].is_monotonic_increasing and (t["event_id"].diff().dropna() == 1).all()
