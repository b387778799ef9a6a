"""Drop-in API compatibility with the reference client.

The reference exposes (api.py::Corintick †, SURVEY.md §2.1):

    c = Corintick(...)                      # MongoDB connection
    c.write(uid, df, collection=..., **metadata)   # df: pandas, DatetimeIndex
    df = c.read(uid, start=..., end=..., columns=[...], collection=...)
    c.list_uids(collection=...)

This facade keeps those exact signatures over the Spark-native TickStore —
pandas in, pandas out, DatetimeIndex round-tripped — so existing reference
client code ports by changing only the constructor. Each "collection"
(reference: a MongoDB collection per bucket †) is one TickStore dataset
directory.

For anything beyond the reference's retrieve-then-compute workflow, use the
TickStore/DataFrame API directly — shipping whole series to the client is
exactly the bottleneck this engine removes.
"""

from __future__ import annotations

import os

import pandas as pd
from pandas.errors import OutOfBoundsDatetime

from pyspark.sql import SparkSession
import pyspark.sql.functions as F

from corintick_spark.catalog import configure
from corintick_spark.storage import TickStore

# no leading underscore: Hadoop path listers treat _-prefixed paths as
# hidden, which would make uid partition directories invisible
_TS = "corintick_ts"
_UID = "corintick_uid"


def _wall_time(s: pd.Series, zone: str) -> pd.Series:
    """A tz-aware timestamp column as naive wall times in ``zone``: in
    nanoseconds when every value fits, else in its own unit."""
    s = s.dt.tz_convert(zone).dt.tz_localize(None)
    try:
        return s.astype("datetime64[ns]")
    except OutOfBoundsDatetime:
        return s


class Corintick:
    """Reference-parity facade: uid-keyed pandas frames over TickStore."""

    def __init__(self, spark: SparkSession, root: str, default_collection: str = "corintick"):
        self.spark = configure(spark)
        self.root = root
        self.default_collection = default_collection
        self._stores: dict[str, TickStore] = {}

    def _store(self, collection: str | None) -> TickStore:
        name = collection or self.default_collection
        if name not in self._stores:
            self._stores[name] = TickStore(
                self.spark, os.path.join(self.root, name), uid_col=_UID, ts_col=_TS
            )
        return self._stores[name]

    # -- api.py::Corintick.write † -------------------------------------------
    def write(
        self,
        uid: str,
        df: pd.DataFrame,
        collection: str | None = None,
        check_overlap: bool = True,
        **metadata: str,
    ) -> None:
        """Write a pandas frame (DatetimeIndex required, like the reference's
        monotonic-index validation †). Overlapping writes for the same uid
        raise, mirroring the reference's overlap warning."""
        if not isinstance(df.index, pd.DatetimeIndex):
            raise TypeError("corintick frames must have a DatetimeIndex")
        if not df.index.is_monotonic_increasing:
            raise ValueError("DatetimeIndex must be monotonic increasing")
        pdf = df.reset_index(names=_TS)
        pdf[_UID] = uid
        sdf = self.spark.createDataFrame(pdf)
        store = self._store(collection)
        store.write(sdf, check_overlap=check_overlap, **metadata)

    # -- api.py::Corintick.read † --------------------------------------------
    def read(
        self,
        uid: str,
        start=None,
        end=None,
        columns: list[str] | None = None,
        collection: str | None = None,
    ) -> pd.DataFrame:
        """Read one uid back as a pandas frame with its DatetimeIndex
        (inclusive range bounds, column-subset projection — the reference's
        read contract). Timestamps come back as ``toPandas()`` gives them,
        naive wall times in the session time zone, in nanoseconds when
        every value fits pandas' nanosecond range (1677-09-21 to
        2262-04-11) and in the stored microseconds otherwise."""
        store = self._store(collection)
        sdf = store.read(uids=[uid], start=start, end=end, columns=columns)
        pdf = sdf.drop(_UID).toArrow().to_pandas()
        zone = self.spark.conf.get("spark.sql.session.timeZone")
        for name in pdf.columns:
            if isinstance(pdf[name].dtype, pd.DatetimeTZDtype):
                pdf[name] = _wall_time(pdf[name], zone)
        out = pdf.sort_values(_TS).set_index(_TS)
        out.index.name = None
        return out

    # -- api.py::Corintick.list_uids † ---------------------------------------
    def list_uids(self, collection: str | None = None) -> pd.DataFrame:
        stats = self._store(collection).list_uids().toPandas()
        return stats.rename(columns={_UID: "uid"}).sort_values("uid").reset_index(drop=True)

    def metadata(self, collection: str | None = None, uid: str | None = None) -> dict:
        """Store-level merged metadata, or — with ``uid`` — the merged
        metadata of every write that touched that uid (the reference's
        per-chunk-document metadata view, T-A14 †)."""
        store = self._store(collection)
        if uid is not None:
            return store.metadata_for(uid)
        return store.get_metadata()
