"""mrlite — Spark-backed parity engine for the reference MapReduce contract.

Reproduces the observable behavior of the reference framework
(/root/reference, see SURVEY.md §2-§3): directory-of-text-files input,
external map/reduce executables speaking tab-separated key-value lines,
md5 hash partitioning, per-partition lexicographic sort before reduce, and
``part-%05d`` text output files.

A job has one of two data planes, one task kernel under two
schedulers. Both deal input files to map tasks with the same rule
(``partitioner.split_input``) and run the same task bodies,
``worker.run_mapper`` and ``worker.run_reducer``: Spark through
``MREngine`` (its scheduler, executors, shuffle and fault tolerance
subsume the reference's task runtime), or a registered worker fleet,
which runs the reference's own ``tmp/job-{id}/intermediate`` file
shuffle. So an executable job writes the same ``part-%05d`` bytes on
either plane. The FULL control plane is kept for drop-in
compatibility:

- ``MREngine.submit_job`` accepts exactly the fields of the reference's
  ``new_manager_job`` message (reference: mapreduce/submit.py:70-78);
- ``MRManagerServer`` exposes the same TCP JSON endpoint the reference's
  ``mapreduce-submit`` client talks to, handles worker ``register`` with
  a ``register_ack`` reply (C3), receives 2-second UDP heartbeats and
  applies the miss-5-and-dead liveness rule (C4), and fans ``shutdown``
  out to registered workers (C6);
- ``MRWorker`` speaks the worker side of the same protocol — register,
  heartbeat, ``new_map_task`` / ``new_reduce_task`` execution with md5
  routing into unsorted partition files (the reduce task sorts),
  ``finished`` replies — so tooling written against the reference's
  worker wire format runs unchanged.

This package and its ``manager``, ``worker`` and ``partitioner`` import
only the standard library, so a fleet of workers and a manager without
an engine (``MRManagerServer(None)``) start without Spark. ``MREngine``
needs a ``SparkSession`` only when it is built.
"""

from eeecs485_p4_mapreduce_spark.mrlite.engine import MREngine, MRJobResult
from eeecs485_p4_mapreduce_spark.mrlite.manager import MRManagerServer
from eeecs485_p4_mapreduce_spark.mrlite.partitioner import md5_partition
from eeecs485_p4_mapreduce_spark.mrlite.worker import MRWorker

__all__ = [
    "MREngine",
    "MRJobResult",
    "MRManagerServer",
    "MRWorker",
    "md5_partition",
]
