"""dask_relabeling_spark — a PySpark-native engine with the capabilities of
TheJacksonLaboratory/dask_relabeling, rebuilt Spark-first.

Public surface mirrors the reference's entry points
(``/root/reference/relabel/__init__.py``) over a tile-table data model, plus
the large-scale data-pipeline operators (dedup, similarity, text analysis,
multimodal plumbing) that generalize the same parallel patterns.
"""
from . import _zipcache  # noqa: F401  (first: see its docstring)
from .session import get_spark
from .sources.tiles import TileSet, from_array, from_tiles, to_array, to_tiles
from .operators.pipeline import (annotate_labeled_tiles, image2geojson,
                                 image2labels, labels2geojson,
                                 merge_overlapped_tiles, prepare_input,
                                 remove_overlapped_labels,
                                 segment_overlapped_input)
from .operators.relabel_ops import sort_label_indices
from .operators.annotate_ops import zip_annotated_tiles
from .operators.asof import asof_join
from .operators import dedup, multimodal, similarity, text
from .functions.ids import dense_ids
from .functions.skew import grouped_topk
from .sources.bucketed import read_table, write_bucketed
from .sources.tables import load_table

__version__ = "0.1.0"

__all__ = [
    "get_spark", "TileSet", "from_array", "from_tiles", "to_array",
    "to_tiles", "prepare_input", "image2labels", "image2geojson",
    "labels2geojson", "segment_overlapped_input",
    "remove_overlapped_labels", "merge_overlapped_tiles",
    "annotate_labeled_tiles", "sort_label_indices", "zip_annotated_tiles",
    "asof_join", "dense_ids", "grouped_topk", "write_bucketed",
    "read_table", "load_table", "dedup", "similarity", "text",
    "multimodal",
]
