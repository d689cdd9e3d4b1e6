"""crawler_spark — a from-scratch PySpark-native URL-frontier + fetch scheduler.

Re-expresses the capabilities of the reference crawler
(keanu-thakalath/crawler, studied read-only at /root/reference) as an
idiomatic Spark engine:

- URL canonicalization (reference parity + RFC 3986 extended) as
  Arrow-vectorized pandas UDFs (``crawler_spark.functions.urlnorm``).
- Link extraction / interleaved-span parsing (``crawler_spark.functions.linkextract``).
- A partitioned, micro-batched frontier drain with per-host ordering,
  politeness and robots rules (``crawler_spark.operators.scheduler``),
  deduplicated against ``SeenState``'s cuckoo-prefiltered, bucketed
  URL-seen tables (``crawler_spark.operators.seen_state``); the
  reference-parity one-pop-per-source drain is
  ``crawler_spark.operators.frontier``.
- Snapshot-committed state tables with lineage + resume
  (``crawler_spark.state``).
- A relational query surface mirroring the reference's views
  (``crawler_spark.queries``).

Nothing here is a code port: the reference defines WHAT (loop semantics,
link classification, span ordering); the HOW is DataFrame/Catalyst.

Importing the package also makes ``importlib.invalidate_caches()`` cheap
on Python < 3.12. A PySpark worker calls it before every task, and there
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive: a worker holds ~18 zipimporters (pyspark.zip,
the spark-core jar, py4j, the shipped package), ~27k entries parsed in
pure Python per task. The wrapper below re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from what that importer last read, or
the stat fails, so a rewritten archive is still picked up. Every worker
that unpickles a library function imports this package, so the loop's
Python stages get it. Python 3.12 re-reads lazily and is left alone.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 12):
    import os
    import zipimport

    def _stat_stamped(full_read):
        # full_read is a closure cell, not a module global: a reload of the
        # package rebinds its globals while the installed wrapper lives on
        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
                stamp = (st.st_mtime_ns, st.st_size)
            except OSError:
                stamp = None
            if stamp is None or stamp != getattr(self, "_read_stamp", None):
                full_read(self)
                self._read_stamp = stamp

        invalidate_caches.__wrapped__ = full_read
        return invalidate_caches

    # importing the package again (a reload, or a second copy on the path)
    # must not wrap the wrapper
    if not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"):
        zipimport.zipimporter.invalidate_caches = _stat_stamped(
            zipimport.zipimporter.invalidate_caches
        )
