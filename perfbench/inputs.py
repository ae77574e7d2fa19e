"""The benchmark's input tables and what the seed derives from them.

``data/`` holds unmodified copies of the engine's test tables (see
``data/SOURCE.md``): the sf0.01 ``orders`` table that small_exports
loads into Derby, and the sf0.1 and sf0.01 ``documents`` corpora that
curation times and warms up on. The seed never changes a value: it
draws small_exports' request stream, and the row order in which the
curation corpus is laid out.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ORDERS = f"{DATA}/sf0.01/orders.parquet"
DOCUMENTS = f"{DATA}/sf0.1/documents.parquet"
WARM_DOCUMENTS = f"{DATA}/sf0.01/documents.parquet"
ORACLE_DIGESTS = f"{DATA}/oracle_digests.json"


def shuffled_documents(seed: int, dir_: str) -> tuple[str, int]:
    """The sf0.1 corpus with its rows in a seeded order, as
    ``<dir_>/documents.parquet`` in one row group like the original;
    returns the path and the row count."""
    t = pq.read_table(DOCUMENTS)
    order = np.random.default_rng([seed, 3]).permutation(t.num_rows)
    os.makedirs(dir_, exist_ok=True)
    path = f"{dir_}/documents.parquet"
    pq.write_table(t.take(order), path, row_group_size=t.num_rows)
    return path, t.num_rows


def write_orders_csv(path: str) -> str:
    """The orders table as headerless CSV in the form Derby's bulk
    import reads (``yyyy-mm-dd hh:mm:ss`` timestamps)."""
    import csv

    t = pq.read_table(ORDERS).to_pydict()
    t["o_orderdate"] = [d.strftime("%Y-%m-%d %H:%M:%S") for d in t["o_orderdate"]]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows(zip(*t.values()))
    return path
