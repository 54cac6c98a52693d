from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jaccard_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REF = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    # modest parallelism for tiny test data; semantics identical to local[32]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark(app_name="jaccard-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_txt(tmp_path_factory):
    """Reference-format text corpus (``Document<doc_id> <text>`` per line)
    written from the sf0.001 documents table: 500 docs over a 31-token
    vocabulary, no newlines inside ``text``."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text"]
    ).to_pydict()
    path = tmp_path_factory.mktemp("corpus") / "corpus.txt"
    path.write_text(
        "".join(
            f"Document{i} {text}\n"
            for i, text in zip(docs["doc_id"], docs["text"])
        )
    )
    return str(path)
