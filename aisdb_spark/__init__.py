"""transcript-timeseries-spark: a PySpark-native time-series engine.

Re-expresses the trajectory-pipeline semantics of AISViz/AISdb
(reference at /root/reference, cited per-operator as file:line) over
Iceberg/parquet tables of multi-turn conversation transcripts
(conv_id, turn_idx, role, text, tool, ts), Spark-first:
Window-function segmentation, cascaded windowed rollups, and one
per-entity Python route — a mapInArrow stage over JVM-sorted batches —
for interpolation, downsampling, the denoising encoder and the Gorilla
codec.
"""

__version__ = "0.1.0"
