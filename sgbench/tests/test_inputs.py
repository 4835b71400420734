"""The seeded input generator: deterministic per seed, disjoint slices."""

from __future__ import annotations

import filecmp
import os

from sgbench import inputs as gen


def _identities(df):
    return set(zip(df["repo"], df["path"], df["commit"]))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for workload in ("serve", "nrt"):
        a = gen.write_inputs(gen.make_inputs(workload, 7), str(tmp_path / f"{workload}-a"))
        b = gen.write_inputs(gen.make_inputs(workload, 7), str(tmp_path / f"{workload}-b"))
        for name in a:
            files = sorted(os.listdir(a[name]))
            assert files == sorted(os.listdir(b[name]))
            match, mismatch, errors = filecmp.cmpfiles(a[name], b[name], files, shallow=False)
            assert not mismatch and not errors, (workload, name, mismatch, errors)
        assert filecmp.cmp(
            tmp_path / f"{workload}-a" / "schedule.json",
            tmp_path / f"{workload}-b" / "schedule.json",
            shallow=False,
        )


def test_nrt_slices_share_identities_only_through_readds():
    inp = gen.make_inputs("nrt", 3)
    base, add, readd = _identities(inp.base), _identities(inp.add), _identities(inp.readd)
    assert len(base) == len(inp.base) and len(add) == len(inp.add)
    assert not base & add
    victims = _identities(inp.base.iloc[inp.victims])
    assert readd == _identities(inp.base.iloc[inp.readd_of])
    assert readd <= victims and len(readd) == gen.SIZES.readds
    assert not readd & add


def test_markers_are_where_the_checks_expect_them():
    inp = gen.make_inputs("nrt", 3)
    has = lambda df, tok: [i for i, c in enumerate(df["content"]) if c.endswith("\n" + tok)]
    assert has(inp.add, gen.MARKER) == [0]
    holders = has(inp.base, gen.VICTIM)
    assert holders == list(range(0, gen.SIZES.base_docs, gen.SIZES.victim_stride))
    assert set(inp.victims) <= set(holders) and len(inp.victims) == gen.SIZES.victims
    assert has(inp.readd, gen.UPDATE) == list(range(len(inp.readd)))


def test_seed_moves_the_added_docs_the_schedule_and_the_request_stream():
    a, b = gen.make_inputs("nrt", 1), gen.make_inputs("nrt", 2)
    assert a.base.equals(b.base)  # one base corpus for every seed
    assert not _identities(a.add) & _identities(b.add)
    assert a.readd["content"].tolist() != b.readd["content"].tolist()
    assert a.victims != b.victims
    assert a.requests != b.requests


def test_query_stream_mix():
    inp = gen.make_inputs("serve", 5)
    kinds = [r["kind"] for r in inp.requests[: 4 * len(gen.ROUND)]]
    assert kinds == list(gen.ROUND) * 4
    assert [r["kind"] for r in inp.warmup] == list(gen.WARMUP)
    texts = [r["query"] for r in inp.requests if "query" in r]
    texts += [t for r in inp.requests if r["kind"] == "batch" for t in r["queries"].values()]
    terms = [w for t in texts for w in t.split()]
    assert all(1 <= len(t.split()) <= 4 for t in texts)
    absent = sum(w.startswith(gen.ABSENT_PREFIX) for w in terms) / len(terms)
    assert 0.02 < absent < 0.2
    assert len(set(texts)) < len(texts)  # popular texts repeat
    assert "the" in terms  # hot terms are drawn
