import shutil
import tempfile

import pytest

from kartograph_spark import synth
from kartograph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="kartograph-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir():
    d = tempfile.mkdtemp(prefix="kg-corpus-")
    synth.write_corpus(d, n_conv=60, mean_turns=10, n_long=2, long_turns=120)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def transcripts_pdf(corpus_dir):
    import pandas as pd

    return pd.read_parquet(f"{corpus_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def alias_pdf(corpus_dir):
    import pandas as pd

    return pd.read_parquet(f"{corpus_dir}/alias_dictionary.parquet")


@pytest.fixture(scope="session")
def transcripts_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/transcripts.parquet")


@pytest.fixture(scope="session")
def alias_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/alias_dictionary.parquet")


@pytest.fixture(scope="session")
def random_triples(spark):
    """About 200 seeded random triples over a small vocabulary: subjects
    with several types, untyped subjects, refs to typed, untyped and
    undefined URNs, self-loops, orphans, mixed scalar dtypes on one
    predicate and (conv_id, turn_idx) ties."""
    import random

    rng = random.Random(15)
    urns = [f"urn:E:e{i}" for i in range(30)]
    types = ["Service", "Tool", "Person", "Conversation"]
    rows = []
    for _ in range(200):
        subj = rng.choice(urns[:24])
        pred = rng.choice(
            ["dgraph.type"] * 3 + ["name", "description", "mentions", "uses", "url", "notes"]
        )
        if pred == "dgraph.type":
            obj, is_ref, dtype = rng.choice(types), False, "string"
        elif pred in ("mentions", "uses"):
            # refs leave e18..e23 unlinked: typed ones among them are orphans
            subj = rng.choice(urns[:12])
            obj, is_ref, dtype = rng.choice(urns[6:18] + urns[24:]), True, "uid"
        else:
            dtype = rng.choice(["string", "int"]) if pred == "notes" else "string"
            obj, is_ref = f"v{rng.randrange(5)}", False
        conv = f"c{rng.randrange(4)}"
        rows.append((subj, pred, obj, is_ref, dtype, conv, rng.randrange(12)))
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_ref boolean, dtype string,"
        " conv_id string, turn_idx long",
    )
