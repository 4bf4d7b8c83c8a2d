"""The correctness gate: order-independent digest, perturbation is a failure."""

import pandas as pd
import pytest

from perfbench import gate


@pytest.fixture
def triples():
    return pd.DataFrame(
        {
            "subj": ["urn:Conversation:c1", "urn:Tool:vault", "urn:Tool:kafka"],
            "pred": ["turn_count", "dgraph.type", "dgraph.type"],
            "obj": ["4", "Tool", "Tool"],
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 2, 1],
        }
    )


def write_table(df, out_dir):
    # the pipeline's layout: a parquet table partitioned by pred
    df.to_parquet(out_dir / "triples", partition_cols=["pred"], index=False)
    return str(out_dir)


def test_digest_ignores_row_order_and_int_width(triples):
    shuffled = triples.sample(frac=1.0, random_state=3).astype({"turn_idx": "int32"})
    assert gate.digest(shuffled) == gate.digest(triples)


def test_digest_counts_duplicate_rows(triples):
    assert gate.digest(pd.concat([triples, triples.iloc[:1]])) != gate.digest(triples)


def test_unchanged_table_passes(tmp_path, triples):
    assert gate.check(write_table(triples, tmp_path), gate.digest(triples))


@pytest.mark.parametrize(
    "perturb",
    [
        lambda df: df.assign(obj=df["obj"].replace("4", "5")),
        lambda df: df.assign(turn_idx=df["turn_idx"].replace(2, 3)),
        lambda df: df.iloc[1:],
    ],
    ids=["changed_literal", "changed_provenance", "missing_row"],
)
def test_perturbed_table_is_a_failure(tmp_path, triples, perturb):
    assert not gate.check(write_table(perturb(triples), tmp_path), gate.digest(triples))


def test_missing_table_is_a_failure(tmp_path, triples):
    assert not gate.check(str(tmp_path), gate.digest(triples))
