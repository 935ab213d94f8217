"""The seeded generator: determinism, sizes and its self-checks."""

import hashlib
import os

import pytest

import gen

SMALL = gen.Shape(tiles=300, annotations=9_000, orders=3_000, customers=500, suppliers=100,
                  events=2_000, documents=300, embeddings=50,
                  hot_tiles=1, hot_rows=gen.SPLIT_THRESHOLD + 10)


def _digests(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def test_same_seed_gives_identical_files(tmp_path):
    gen.generate(str(tmp_path / "a"), "inventory", 5, SMALL)
    gen.generate(str(tmp_path / "b"), "inventory", 5, SMALL)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_other_seed_gives_other_files_of_same_sizes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), "inventory", 5, SMALL)
    b = gen.generate(str(tmp_path / "b"), "inventory", 6, SMALL)
    assert a["rows"] == b["rows"]
    da, db = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    changed = {f for f in da if da[f] != db[f]}
    # region and nation are fixed dimensions; every seeded table differs
    assert changed == set(da) - {"region.parquet", "nation.parquet"}


def test_manifest_records_the_workload_properties(tmp_path):
    m = gen.generate(str(tmp_path / "i"), "inventory", 1, SMALL)
    assert m["tiles_over_split_threshold"] == 1
    assert m["max_annotations_per_tile"] > gen.SPLIT_THRESHOLD
    assert 0 < m["hot_tile_share"] < 1
    assert m["documents"] == SMALL.documents
    flat = gen.generate(str(tmp_path / "a"), "analytics", 1,
                        gen.Shape(**{**SMALL.__dict__, "hot_tiles": 0, "hot_rows": 0}))
    assert flat["tiles_over_split_threshold"] == 0


def test_workload_shapes_keep_their_hot_tile_property():
    assert gen.SHAPES["inventory"].hot_tiles >= 1
    assert gen.SHAPES["inventory"].hot_rows > gen.SPLIT_THRESHOLD
    assert gen.SHAPES["analytics"].hot_tiles == 0


def test_check_rejects_broken_key_bounds(tmp_path):
    m = gen.generate(str(tmp_path / "i"), "inventory", 1, SMALL)
    bad = {**m, "max_key": {**m["max_key"], "l_suppkey": gen.SUPPKEY_BOUND}}
    with pytest.raises(ValueError, match="radices"):
        gen.check_manifest(bad, str(tmp_path / "i"))
    with pytest.raises(ValueError, match="SPLIT_THRESHOLD"):
        gen.check_manifest({**m, "tiles_over_split_threshold": 0}, str(tmp_path / "i"))


def test_split_threshold_matches_the_merge_operator():
    from ast_data_pipeline_spark.operators.merge import SPLIT_THRESHOLD

    assert gen.SPLIT_THRESHOLD == SPLIT_THRESHOLD
