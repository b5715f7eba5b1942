"""miaplpy_spark — a PySpark-native time-series rollup + downsample +
retention engine.

A from-scratch Spark engine with the query/data-processing capabilities
of insarlab/MiaplPy (reference at /root/reference, studied for WHAT it
computes, not HOW), rebuilt over tables of pre-tokenized training
sequences:

- raw sequence table ``(doc_id, seq_idx, ts, tokens, n_tok, source)``
- retention cascade raw -> 1h -> 1d expressed as incremental MERGE jobs
  (Iceberg ``MERGE INTO`` on a real cluster; partitioned-parquet
  dynamic-overwrite in this sandbox — see ``sources/catalog.py``)
- batched NumPy eigen kernels (EVD/EMI phase linking, squeeze carry,
  datum connect) inside Arrow-batch ``mapInArrow`` UDFs
- gap-fill linear interpolation, Gorilla XOR + delta-of-delta codecs,
- checkpoint/lineage table for exact resume (the reference's
  ``flag.npy`` protocol, ``phase_linking.py:74-84``).
"""

__version__ = "0.1.0"
