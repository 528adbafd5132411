"""The seed reference: the first pass records, later passes must match."""

from perfbench.workloads import Reference


def test_records_then_matches_then_flags_a_difference(tmp_path):
    path = str(tmp_path / "ref" / "readmit-s1.json")
    rows = [("base", 1200, 0.995828), ("smote", 1756, 0.995828)]
    first = Reference(path)
    assert first.same("strategy_comparison", rows)
    assert first.status == {"strategy_comparison": "recorded"}

    again = Reference(path)  # a later run of the same seed
    assert again.same("strategy_comparison", list(rows))
    assert not again.same("strategy_comparison", [("base", 1200, 0.995829), rows[1]])
    assert again.status == {"strategy_comparison": "differs"}


def test_keys_are_independent(tmp_path):
    ref = Reference(str(tmp_path / "text_curation-s1.json"))
    assert ref.same("kept", [(0, True), (1, False)])
    assert ref.same("other", [1])
    assert not ref.same("kept", [(0, True)])
    assert ref.status == {"kept": "differs", "other": "recorded"}
