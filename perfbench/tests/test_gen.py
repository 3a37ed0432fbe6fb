"""The seeded input generator: the same seed gives identical content
hashes, another seed gives other ones."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_same_seed_same_content(tmp_path):
    assert gen.write_inputs(str(tmp_path / "a"), 7) == gen.write_inputs(str(tmp_path / "b"), 7)


def test_other_seed_other_content(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), 7)
    b = gen.write_inputs(str(tmp_path / "b"), 8)
    assert set(a) == set(gen.TABLES)
    # region is the same fixed five rows for every seed; every other
    # table depends on the seed
    assert [t for t in gen.TABLES if a[t] == b[t]] == ["region"]


def test_tables_match_the_fixture_shapes():
    t = gen.make_tables(1)
    assert {k: t[k].num_rows for k in gen.SF01_ROWS} == gen.SF01_ROWS
    assert t["events"].schema.field("ts").type.unit == "us"
    emb = t["embeddings"].column("embedding").combine_chunks()
    assert len(emb.values) == gen.SF01_ROWS["embeddings"] * gen.DIM
