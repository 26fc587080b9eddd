"""sparkfp — a PySpark-native streaming analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference system ``raviy-iu/flink-fingerprint``
(a PyFlink 1.18 + Kafka streaming pipeline), re-expressed Spark-first:

- DataFrame / Spark SQL for all relational work (Catalyst-optimized),
- Structured Streaming for the unbounded pipelines (event-time windows,
  watermarks, stateful joins, checkpointed exactly-once sinks),
- Arrow-vectorized pandas UDFs for the audio DSP payload
  (PCM decode, STFT, constellation peaks, landmark hashes),
- no per-row Python anywhere on the hot path.

Module map (see SURVEY.md §7.8):

- :mod:`sparkfp.session`     SparkSession factory tuned for the engine
- :mod:`sparkfp.schema`      StructTypes for every table in the system
- :mod:`sparkfp.synth`       deterministic synthetic generators (sensors, clips)
- :mod:`sparkfp.codec`       vectorized audio/image codecs (PCM, G.711,
  IMA ADPCM, WAV; BMP/PPM/PNG via numpy + stdlib zlib)
- :mod:`sparkfp.jpeg`        pure-numpy baseline+progressive JPEG (T.81)
- :mod:`sparkfp.gif`         GIF87a/89a LZW codec (interlace, local tables)
- :mod:`sparkfp.video`       MJPEG video decode (AVI / raw container walk)
- :mod:`sparkfp.dsp`         resampler, STFT, peak picking, landmark
  hashing, per-row decode quarantine (Arrow UDFs)
- :mod:`sparkfp.fingerprint` the windowed stats "fingerprint" parity pipeline
- :mod:`sparkfp.matching`    index build, stream match join, offset voting,
  audio near-dup (landmark-minhash pairs, batch+streaming suppression)
- :mod:`sparkfp.windows`     tumbling/sliding/session window helpers
- :mod:`sparkfp.rules`       rule-tree -> Column compiler (boolean CEP rules)
- :mod:`sparkfp.streaks`     gaps-and-islands streak/duration triggers
- :mod:`sparkfp.stateful`    run-state machine + rising-edge dedup (batch & stream)
- :mod:`sparkfp.joins`       interval join, broadcast dim join, anti-join dedup
- :mod:`sparkfp.sink`        idempotent exactly-once sink (foreachBatch + ledger)
- :mod:`sparkfp.dedup`       exact / MinHash-LSH / SimHash / n-gram / embedding dedup
- :mod:`sparkfp.similarity`  brute-force + LSH-bucketed ANN over embeddings
- :mod:`sparkfp.text`        language-ID, quality scoring, tokenization, winnowing
- :mod:`sparkfp.multimodal`  binary-column media plumbing (decode stubs, real plumbing)
- :mod:`sparkfp.metrics`     per-partition lineage + StreamingQueryProgress capture

Importing the package also makes zip imports cheap to revalidate on
CPython < 3.13. PySpark's Python worker calls
``importlib.invalidate_caches()`` at the start of every task, and
there each ``zipimporter`` for ``pyspark.zip`` (one per package path
inside it, ~16) re-reads the archive's whole central directory, about
0.15-0.25 CPU-s per task on a warm, reused worker. Here an importer re-reads
only when its archive's ``(st_mtime_ns, st_size)`` differs from its
last read, so a rewritten zip is still seen. CPython 3.13 made the call
lazy itself, and there the package leaves it alone. A worker's first
two tasks still pay: the first revalidates before the package is
imported (while that task's UDF is unpickled), and the second stamps
the importers made before the import.
"""

import os
import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    import zipimport

    _reread_directory = zipimport.zipimporter.invalidate_caches

    def _revalidate_if_changed(self):
        """zipimporter.invalidate_caches, re-reading the archive's
        directory only when the archive changed since the last read."""
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or getattr(self, "_sparkfp_stamp", None) != stamp:
            _reread_directory(self)
            self._sparkfp_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _revalidate_if_changed
