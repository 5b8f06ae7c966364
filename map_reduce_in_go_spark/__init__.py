"""PySpark-native analytics engine with the capability surface of
ogzhanolguncu/map-reduce-in-go, re-expressed Spark-first.

The reference (read-only at /root/reference) is a Go distributed MapReduce:
coordinator + RPC workers, FNV-1a hash shuffle, WordCount application.
Here the same semantics are declared as DataFrame plans and Catalyst/Tungsten
pick the physical strategy; the generic Mapper/Reducer contract survives as an
Arrow-batched `mapInPandas` map and sorted-run `mapInPandas` reduce (see
`engine.py`).

Layout:
- ``session``    tuned SparkSession (fault-tolerance knobs mirror the reference)
- ``engine``     generic Mapper/Reducer parity API
- ``sources``    table + text-file readers
- ``functions``  reusable column expressions (tokenize, portable hashing, vectors)
- ``operators``  wordcount / dedup / similarity / text-analysis / multimodal
- ``plans``      relational analytical queries (TPC-H-ish)
- ``streaming``  incremental corpus pipeline, sketch rollups and the events lattice
"""

__version__ = "0.1.0"
