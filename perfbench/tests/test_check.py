from perfbench import check


def test_membership_errors_counts_each_kind():
    clusters = [["a", "b"], ["c"], ["b", "x"]]
    assert check.membership_errors(clusters, ["a", "b", "c", "d"]) == {
        "missing": 1,      # d
        "duplicated": 1,   # b
        "unknown": 1,      # x
    }
    assert check.membership_errors([["a"], ["b"]], ["a", "b"]) == {
        "missing": 0,
        "duplicated": 0,
        "unknown": 0,
    }


def test_output_hash_ignores_order_but_not_grouping():
    h = check.output_hash([["b", "a"], ["c"]])
    assert h == check.output_hash([["c"], ["a", "b"]])
    assert h != check.output_hash([["a"], ["b", "c"]])


def test_remember_hash_flags_a_changed_digest(tmp_path):
    reg = str(tmp_path / "hashes.json")
    assert check.remember_hash(reg, "k", "h1") is None
    assert check.remember_hash(reg, "k", "h1") is None
    assert check.remember_hash(reg, "k", "h2") == "h1"
    assert check.remember_hash(reg, "other", "h2") is None
