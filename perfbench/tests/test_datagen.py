"""Invariants of the seeded benchmark inputs. Run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from perfbench import datagen

SMALL = (400, 49)


@pytest.fixture(scope="module")
def sim():
    return datagen.sim_matrix(7, SMALL)


def test_sim_matrix_same_seed_same_bytes(sim):
    again = datagen.sim_matrix(7, SMALL)
    for a, b in zip(sim, again):
        assert a.tobytes() == b.tobytes()


def test_sim_matrix_other_seed_other_matrix(sim):
    other = datagen.sim_matrix(8, SMALL)
    assert sim[0].tobytes() != other[0].tobytes()
    assert sim[1].tobytes() != other[1].tobytes()


def test_sim_matrix_class_mates_are_byte_equal(sim):
    latency, _mask, classes = sim
    for i in range(latency.shape[0]):
        for c in np.unique(classes[i]):
            members = latency[i, classes[i] == c]
            assert len({v.tobytes() for v in members}) == 1
        # and distinct classes carry distinct values
        assert len(np.unique(latency[i])) == len(np.unique(classes[i]))


def test_sim_matrix_about_18_classes_per_row(sim):
    per_row = [len(np.unique(r)) for r in sim[2]]
    assert 15 <= np.mean(per_row) <= 18


def test_sim_matrix_mask_default_column_and_density(sim):
    _latency, mask, _classes = sim
    assert (mask[:, 0] == 1).all()
    assert set(np.unique(mask)) <= {0.0, 1.0}
    assert 0.08 <= mask[:, 1:].mean() <= 0.12


def test_sim_matrix_full_shape_is_ceb_sized():
    latency, mask, classes = datagen.sim_matrix(1)
    assert latency.shape == mask.shape == classes.shape == datagen.SIM_SHAPE == (3133, 49)
    assert np.isfinite(latency).all() and (latency > 0).all()


@pytest.fixture(scope="module")
def tables():
    return datagen.fixture_tables(3, 0.001)


def test_fixture_tables_same_seed_same_bytes(tables):
    assert datagen.tables_digest(tables) == datagen.tables_digest(datagen.fixture_tables(3, 0.001))


def test_fixture_tables_other_seed_other_bytes(tables):
    assert datagen.tables_digest(tables) != datagen.tables_digest(datagen.fixture_tables(4, 0.001))


def test_fixture_tables_schema(tables):
    assert set(tables) == set(datagen.TABLES)
    assert tables["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert tables["events"].schema.field("ts").type == pa.timestamp("us")
    assert tables["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert tables["nation"].num_rows == 25 and tables["region"].num_rows == 5


def test_fixture_tables_keys_and_planted_duplicates(tables):
    orders = tables["orders"].num_rows
    li = tables["lineitem"].column("l_orderkey").to_numpy()
    assert li.min() >= 0 and li.max() < orders
    ts = tables["events"].column("ts").to_numpy()
    assert (np.diff(ts.astype(np.int64)) > 0).all()
    texts = tables["documents"].column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t.split(" dup")[0] in texts for t in dups)
    n_chars = tables["documents"].column("n_chars").to_pylist()
    assert n_chars == [len(t) for t in texts]
