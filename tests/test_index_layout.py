"""One sharded-index layout, checked once on read
(operators/shards.read_sharded_index).

Every writer emits the same blocks / docs_sharded / meta.json columns, so
the readers downstream (WAND, merge, compaction, tombstone masks, export)
keep no compatibility branches. An index missing a piece of that layout
must therefore be refused when it is opened, with an error that names the
missing piece and says to rebuild."""

import json
import re
import shutil

import pytest

from searchengine_spark.operators import shards
from searchengine_spark.sources import webgen


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("layout") / "index"
    pages = spark.createDataFrame(webgen.generate_pandas(40))
    shards.build_and_write_sharded(spark, pages, str(path), n_shards=2)
    return path


def _drop_columns(spark, index_path, table, cols):
    src = index_path / f"{table}.orig"
    (index_path / table).rename(src)
    spark.read.parquet(str(src)).drop(*cols).write.parquet(str(index_path / table))
    shutil.rmtree(src)


def _drop_meta_keys(index_path, keys):
    meta = json.loads((index_path / "meta.json").read_text())
    for k in keys:
        del meta[k]
    (index_path / "meta.json").write_text(json.dumps(meta))


@pytest.mark.parametrize(
    "table, cols, named",
    [
        ("blocks", ["fls"], ["blocks column 'fls'"]),
        (
            "blocks",
            ["max_tf", "min_dl"],
            ["blocks column 'max_tf'", "blocks column 'min_dl'"],
        ),
        ("docs_sharded", ["doc_len"], ["docs_sharded column 'doc_len'"]),
        ("meta.json", ["sum_doc_len"], ["meta.json key 'sum_doc_len'"]),
    ],
)
def test_read_refuses_incomplete_layout(spark, built, tmp_path, table, cols, named):
    broken = tmp_path / "broken"
    shutil.copytree(built, broken)
    if table == "meta.json":
        _drop_meta_keys(broken, cols)
    else:
        _drop_columns(spark, broken, table, cols)
    with pytest.raises(ValueError, match="rebuild the index") as err:
        shards.read_sharded_index(spark, str(broken))
    for piece in named:
        assert re.search(re.escape(piece), str(err.value)), err.value
