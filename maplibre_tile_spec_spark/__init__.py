"""maplibre_tile_spec_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Inspired by (NOT ported from) the MapLibre Tile spec reference at
DoFabien/maplibre-tile-spec. The reference is a single-process columnar
vector-tile codec (Java encoder + TS/C++/Rust decoders); this package
re-expresses the same computations — tile assignment, MLT-style stream
encodings (zigzag/delta/RLE/varint), dictionary builds, space-filling-curve
sorts, spatial joins — as Spark DataFrame plans plus vectorized
pandas/Arrow UDF kernels, designed for 100 TB-scale Iceberg/parquet inputs.

Layout:
    functions/   column expressions + numpy kernels (tile math, stream codecs)
    operators/   DataFrame-level operators (tiler, spatial joins, dedup, text)
    sources/     deterministic synthesizers + table loaders
    plans/       checkpoint/lineage manifests, resumability
    streaming/   structured-streaming variants of the batch operators
"""

from maplibre_tile_spec_spark import _zipimport_guard

__version__ = "0.1.0"

# every Python worker imports this package when it unpickles an engine
# kernel, so installing here reaches all sessions, ``--py-files`` included
_zipimport_guard.install()
