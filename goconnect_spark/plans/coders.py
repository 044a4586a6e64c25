"""Coder registry + declaration-time injection (reference parity).

The reference auto-injects serde stages when adjacent stage types
mismatch, via BFS over registered coders, depth <= 5
(reference pipeline.go:168-197; registry coder/registry.go:11-24).

Here a "type" is a TypeTag = (Spark type simpleString, codec tag) —
the codec tag distinguishes e.g. plain bytes from gzip bytes or
Confluent-wire-format Avro bytes, which in the reference are distinct
Go types (types.go:27-48, coder/serde/types.go:8-12). A Coder is an
edge: a pure Column transform between two tags. Injection finds the
shortest conversion chain and applies it to the `value` column.

Built-in coders (reference coder/ package parity):
  string <-> binary         str.Encoder/Decoder (coder/str/)
  struct -> json string     serde.JsonEncoder (coder/serde/encoder.go:30-48)
  binary <-> gzip binary    gzip.Encoder/Decoder (coder/gzip/) — Pandas
                            UDF (no JVM builtin); mtime=0 for
                            deterministic output
  binary <-> kv struct      kv.NilKeyEncoder/IgnoreKeyDecoder (coder/kv/)
  sr-avro binary -> binary  SchemaRegistryDecoder header strip
                            (coder/serde/decoder.go:30-83) via
                            functions.serde.sr_strip_header

Schema-dependent coders (xml/avro with explicit schemas) are
constructed explicitly via the functions module and registered
per-pipeline, mirroring `WithCoders(coder.Registry())`.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from typing import Callable, Optional, Union

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from goconnect_spark.functions import serde

ColumnFn = Callable[[Column], Column]


@dataclass(frozen=True)
class TypeTag:
    dtype: str  # Spark DataType.simpleString()
    codec: str = "plain"

    @classmethod
    def of(cls, t: Union["TypeTag", T.DataType, str], codec: str = "plain") -> "TypeTag":
        if isinstance(t, TypeTag):
            return t
        if isinstance(t, T.DataType):
            return cls(t.simpleString(), codec)
        return cls(t, codec)


@dataclass(frozen=True)
class Coder:
    src: TypeTag
    dst: TypeTag
    fn: ColumnFn


class CoderInjectionError(TypeError):
    pass


class CoderRegistry:
    MAX_DEPTH = 5  # reference pipeline.go:172

    def __init__(self):
        self._coders: list[Coder] = []

    def register(self, src, dst, fn: ColumnFn, src_codec: str = "plain", dst_codec: str = "plain"):
        self._coders.append(Coder(TypeTag.of(src, src_codec), TypeTag.of(dst, dst_codec), fn))
        return self

    def find_chain(self, src: TypeTag, dst: TypeTag) -> Optional[list[Coder]]:
        """BFS shortest conversion chain src -> dst (depth <= 5)."""
        if src == dst:
            return []
        frontier = deque([(src, [])])
        seen = {src}
        while frontier:
            tag, path = frontier.popleft()
            if len(path) >= self.MAX_DEPTH:
                continue
            for c in self._coders:
                if c.src == tag and c.dst not in seen:
                    np = path + [c]
                    if c.dst == dst:
                        return np
                    seen.add(c.dst)
                    frontier.append((c.dst, np))
        return None

    def inject(self, df: DataFrame, cur: Union[TypeTag, T.DataType], want: Union[TypeTag, T.DataType]):
        """Apply the conversion chain to the value column; returns
        (df, new_type). Raises (like the reference's panic,
        pipeline.go:189) when no chain exists."""
        cur_t, want_t = TypeTag.of(cur), TypeTag.of(want)
        chain = self.find_chain(cur_t, want_t)
        if chain is None:
            raise CoderInjectionError(f"cannot inject coder from {cur_t} to {want_t}")
        for c in chain:
            df = df.withColumn("value", c.fn(F.col("value")))
        return df, want_t


def _gzip_compress_udf():
    import pandas as pd  # noqa: F401 - resolved by pandas_udf type hints
    from pyspark.sql.functions import pandas_udf

    def gz(s):
        import gzip as _gzip

        return s.map(lambda b: None if b is None else _gzip.compress(bytes(b), mtime=0))

    gz.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf("binary")(gz)


def _gzip_decompress_udf():
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    def gunz(s):
        import gzip as _gzip

        return s.map(lambda b: None if b is None else _gzip.decompress(bytes(b)))

    gunz.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf("binary")(gunz)


def default_registry() -> CoderRegistry:
    r = CoderRegistry()
    # str.Encoder / str.Decoder
    r.register("string", "binary", lambda c: F.encode(c, "UTF-8"))
    r.register("binary", "string", lambda c: F.decode(c, "UTF-8"))
    # kv.NilKeyEncoder: bytes -> KVBinary{key: null, value}
    kv_type = "struct<key:binary,value:binary>"
    r.register("binary", kv_type, lambda c: F.struct(F.lit(None).cast("binary").alias("key"), c.alias("value")))
    # kv.IgnoreKeyDecoder: KVBinary -> bytes
    r.register(kv_type, "binary", lambda c: c.getField("value"))
    # gzip.Encoder / Decoder (Pandas UDF — Arrow-batched slow path)
    r.register("binary", "binary", lambda c: _gzip_compress_udf()(c), dst_codec="gzip")
    r.register("binary", "binary", lambda c: _gzip_decompress_udf()(c), src_codec="gzip")
    # Confluent SR wire format strip: sr-avro bytes -> raw avro payload
    # (decoder.go:37-43; the layout is coded once, in functions.serde)
    r.register("binary", "binary", serde.sr_strip_header, src_codec="sr-avro")
    return r
