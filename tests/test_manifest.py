"""IndexManifest: the one format of an index's stats.json."""

from __future__ import annotations

import dataclasses
import json

import pytest

from bge_m3_onnx_spark.config import DEFAULT_CONFIG
from bge_m3_onnx_spark.plans.build_index import IndexManifest

# a stats.json as materialize_index writes it: every required field
STORED = {"n_docs": 200, "avgdl": 11.35, "k1": 1.2, "b": 0.75, "block_size": 128, "term_buckets": 16}
REQUIRED = ["n_docs", "avgdl", "k1", "b", "block_size"]


def _write(index_dir, stored: dict) -> None:
    with open(index_dir / "stats.json", "w") as f:
        json.dump(stored, f)


def test_manifest_roundtrip_keeps_every_field(tmp_path):
    """A write and a read keep every field."""
    man = IndexManifest(
        n_docs=12_345,
        avgdl=0.1 + 0.2,  # 0.30000000000000004: no short decimal prints it
        k1=0.9,
        b=0.4,
        block_size=64,
        term_buckets=8,
    )
    # every field away from its default, so a field the writer drops fails
    for f in dataclasses.fields(man):
        default = getattr(DEFAULT_CONFIG, f.name, f.default)
        assert getattr(man, f.name) != default, f.name
    man.write(str(tmp_path))
    assert IndexManifest.read(str(tmp_path)) == man


def test_manifest_read_defaults_optional_fields(tmp_path):
    _write(tmp_path, STORED)
    man = IndexManifest.read(str(tmp_path))
    assert dataclasses.asdict(man) == STORED
    man.write(str(tmp_path))
    with open(tmp_path / "stats.json") as f:
        assert json.load(f) == STORED  # the writer emits no merge clock


def test_manifest_read_drops_a_zero_merge_clock(tmp_path):
    """stats.json files written while indexes kept a merge clock carry
    "merges_since_compaction": 0; they still load, and the field is gone."""
    _write(tmp_path, {**STORED, "merges_since_compaction": 0})
    assert dataclasses.asdict(IndexManifest.read(str(tmp_path))) == STORED


def test_manifest_read_rejects_a_running_merge_clock(tmp_path):
    """A nonzero clock marks block maxima that are inflated bounds, which no
    reader trusts any more: the read fails and names the field."""
    _write(tmp_path, {**STORED, "merges_since_compaction": 3})
    with pytest.raises(ValueError, match="merges_since_compaction"):
        IndexManifest.read(str(tmp_path))


@pytest.mark.parametrize("field", REQUIRED)
def test_manifest_read_rejects_missing_field(tmp_path, field):
    """A stats.json without k1/b/block_size must not load under the caller's
    values without a word: any missing required field is an error."""
    _write(tmp_path, {k: v for k, v in STORED.items() if k != field})
    with pytest.raises(ValueError, match=rf"missing .*\['{field}'\]"):
        IndexManifest.read(str(tmp_path))


def test_manifest_read_rejects_unknown_field(tmp_path):
    """A field this reader does not know (say, a block format a newer writer
    added) must not be ignored."""
    _write(tmp_path, {**STORED, "block_format": 2})
    with pytest.raises(ValueError, match=r"unknown .*\['block_format'\]"):
        IndexManifest.read(str(tmp_path))
