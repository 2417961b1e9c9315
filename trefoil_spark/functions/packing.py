"""Value packing / fill values / path parsing (SURVEY.md F14/F15/F22).

- get_pack_atts: reference trefoil/netcdf/utilities.py:385-416 —
  scale = (max-min)/(2^bits - 2), offset = min; reserves the TOP value of
  the unsigned range for fill.
- fill-value table: values from the netCDF4 default_fillvals convention
  (reference utilities.py:13-26) — constants, not imported.
- resolve_dataset_variable: 'file.nc:var' split (utilities.py:419-440).

Packing column: ``pack_col`` is a plain Catalyst expression; Parquet
dictionary+ZSTD mostly obsoletes packing at rest, but the operator exists
for parity and for wire formats.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_FILL_VALUES = {
    "int8": -127,
    "uint8": 255,
    "int16": -32767,
    "uint16": 65535,
    "int32": -2147483647,
    "uint32": 4294967295,
    "int64": -9223372036854775806,
    "float32": 9.969209968386869e36,
    "float64": 9.969209968386869e36,
}

_BITS = {"uint8": 8, "uint16": 16, "uint32": 32}


def get_fill_value(dtype: str):
    if str(dtype) not in DEFAULT_FILL_VALUES:
        raise ValueError(f"No default fill value for dtype {dtype}")
    return DEFAULT_FILL_VALUES[str(dtype)]


def get_pack_atts(dtype: str, min_value: float, max_value: float):
    """(scale_factor, add_offset) — reference utilities.py:385-416."""
    if dtype not in _BITS:
        raise ValueError(f"Cannot pack into dtype {dtype}")
    nbits = _BITS[dtype]
    scale = (float(max_value) - float(min_value)) / (2**nbits - 2)
    return scale, float(min_value)


def pack_col(value_col: str, scale: float, offset: float) -> Column:
    """(v - offset) / scale rounded to the packed integer; NULL stays NULL."""
    v = F.col(value_col)
    return F.when(v.isNotNull(), F.round((v - F.lit(offset)) / F.lit(scale)).cast("bigint"))


def resolve_dataset_variable(path: str) -> tuple[str, str | None]:
    """'file.nc:var' -> ('file.nc', 'var'); no colon → (path, None).
    Reference utilities.py:419-440 (windows drive letters respected)."""
    if ":" in path:
        head, _, tail = path.rpartition(":")
        if len(head) == 1 and head.isalpha():  # windows drive like C:\x
            return path, None
        return head, tail
    return path, None
