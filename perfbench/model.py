"""Reference model of the table_cdc workload's ManagedTable.

Replays the same op stream as the table, in pandas, so that the final
table and a time-travel version can be compared with what they should
hold. Rows are keyed by ``o_orderkey`` (unique by construction of the
stream) and carry ``o_orderdate`` as epoch microseconds.
"""

from __future__ import annotations

import pandas as pd

from perfbench.streams import CdcOp

COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate_us",
    "o_orderpriority",
)
# the columns an ingest_update worksheet maps besides the key
UPDATE_COLUMNS = ("o_orderstatus", "o_totalprice")
# a matched MERGE source row priced under this deletes its target row
MERGE_DELETE_BELOW = 2000


def _frame(cols: dict) -> pd.DataFrame:
    df = pd.DataFrame({c: cols[c if c != "o_orderdate_us" else "o_orderdate"] for c in COLUMNS})
    return df.set_index("o_orderkey")


class OrdersModel:
    def __init__(self, cols: dict):
        self.df = _frame(cols)
        self.versions: dict[int, pd.DataFrame] = {}

    def apply(self, op: CdcOp, cols: dict | None) -> None:
        if op.kind in ("point", "range", "compact"):
            return
        if op.kind == "delete":
            k = self.df.index
            hit = (k >= op.lo) & (k < op.hi) & (self.df["o_orderstatus"] == op.status)
            self.df = self.df[~hit]
            return
        src = _frame(cols)
        old = src.index.isin(self.df.index)
        if op.kind == "append":
            self.df = pd.concat([self.df, src])
        elif op.kind == "update":
            m = src.index[old]
            self.df.loc[m, list(UPDATE_COLUMNS)] = src.loc[m, list(UPDATE_COLUMNS)]
        elif op.kind == "upsert":
            m = src.index[old]
            self.df.loc[m] = src.loc[m]
            self.df = pd.concat([self.df, src[~old]])
        elif op.kind == "merge":
            gone = src.index[old & (src["o_totalprice"] < MERGE_DELETE_BELOW).to_numpy()]
            kept = src.index[old & (src["o_totalprice"] >= MERGE_DELETE_BELOW).to_numpy()]
            self.df.loc[kept, list(UPDATE_COLUMNS)] = src.loc[kept, list(UPDATE_COLUMNS)]
            self.df = pd.concat([self.df.drop(gone), src[~old]])
        else:
            raise ValueError(f"unknown op kind {op.kind!r}")

    def snapshot(self, version: int, keep: int = 4) -> None:
        """Remember the state as of table ``version`` (the last ``keep``)."""
        self.versions[version] = self.df.copy()
        for v in sorted(self.versions)[:-keep]:
            del self.versions[v]

    @staticmethod
    def rows(df: pd.DataFrame, lo: int | None = None, hi: int | None = None) -> list[tuple]:
        """Rows as plain Python tuples in ``COLUMNS`` order, optionally
        only keys in ``[lo, hi]``."""
        if lo is not None:
            df = df[(df.index >= lo) & (df.index <= hi)]
        out = df.reset_index()
        return list(zip(*(out[c].tolist() for c in COLUMNS)))
