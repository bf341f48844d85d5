"""Generator determinism: the same seed writes byte-identical inputs, a
different seed different ones."""

import hashlib
import os

import pytest

import gen
import verify
import workloads


def _digest(directory) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_tables_same_seed_same_bytes(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7, 0.001, {"documents": 0.004})
    b = gen.write_tables(str(tmp_path / "b"), 7, 0.001, {"documents": 0.004})
    gen.write_tables(str(tmp_path / "c"), 8, 0.001, {"documents": 0.004})
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_documents_carry_near_duplicates():
    docs = gen._documents(3, 0.004).column("text").to_pylist()
    words = [set(t.split()) for t in docs]
    near = sum(
        any(len(w & v) >= 0.8 * len(w | v) for v in words[:i]) for i, w in enumerate(words)
    )
    assert near >= gen.NEAR_DUP_SHARE * len(docs) * 0.5


def test_prefix_lines_deterministic_distinct_and_at_depth():
    a = gen.prefix_lines(3, 3000, 10)
    assert a == gen.prefix_lines(3, 3000, 10)
    assert a != gen.prefix_lines(4, 3000, 10)
    assert len(set(a)) == len(a) == 3000
    assert verify.prefix_answer(a) == 10
    assert all("@" in line for line in a)


def test_prefix_lines_rejects_shallow_depth():
    with pytest.raises(ValueError):
        gen.prefix_lines(1, 100, 7)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_inputs_digest_follows_seed(tmp_path, name):
    wl = workloads.WORKLOADS[name]
    one = workloads.generate(wl, "tiny", 5, str(tmp_path / "one"))
    again = workloads.generate(wl, "tiny", 5, str(tmp_path / "again"))
    other = workloads.generate(wl, "tiny", 6, str(tmp_path / "other"))
    assert one["digest"] == again["digest"] != other["digest"]
    assert one["rows"] == other["rows"]
