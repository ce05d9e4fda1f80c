"""ulp_spark — a from-scratch PySpark-native rebuild of the capabilities of
dolly-parseton/ulp ("untitled-log-parser").

The reference is a Rust worker-pool pipeline: glob files -> detect format ->
parse records to JSON -> infer a dynamic schema via a type lattice -> route
each record by a field-extraction template -> cast to the merged route schema
-> fan-out bulk writes, one sink per route (see SURVEY.md for file:line
citations).  This package re-expresses that DAG as declarative PySpark:

* scan      — glob + per-file magic-byte detection, log lines with
              deterministic doc ids (``ulp_spark.sources.registry``),
              replacing reference ``src/job.rs:52-73``, ``src/lib.rs:58-72``
* parse     — an ``RLIKE`` cascade + one ``regexp_replace`` per row, as SQL
              text (``ulp_spark.operators.parse``), replacing per-record
              Rust loops (reference ``src/evtx.rs:46-68``, ``src/mft.rs:54-78``)
* enrich    — broadcast-hash-join lookups against small dimension frames
              (``ulp_spark.operators.enrich``), replacing per-row BTreeMap
              gets (reference ``src/type_map.rs:184-192``, ``src/lib.rs:48-56``)
* route     — compiled route-template Column expressions + sanitization
              (``ulp_spark.functions.routes`` / ``sanitize``), replacing
              ``src/type_map.rs:14-62`` and ``src/elastic.rs:156-182``
* infer/cast— distributed type-lattice aggregation and cast matrix
              (``ulp_spark.operators.lattice``, ``ulp_spark.functions.casts``),
              replacing the global ``Mutex<Mapping>`` fold
              (reference ``src/type_map.rs:156-198``, ``type_casting/``)
* aggregate — per-sink counts / histograms (plain Catalyst hash aggregation)
* fan-out   — deterministic per-route partitioned writes
              (``ulp_spark.operators.fanout``), replacing the Elasticsearch
              bulk sink (reference ``src/elastic.rs:101-154``)
* lineage   — per-partition lineage records (rows, bytes, content digest)
              (``ulp_spark.operators.lineage``), replacing
              ``src/type_map.rs:111-155``

Everything is DataFrame-first: Catalyst handles pushdown/pruning/broadcast.
The driver builds plans (mostly SQL text) and reads a few small collects;
executor-side Python is a few Arrow-batched stages: the IPv6 cast's pandas
UDF and the ``mapInPandas`` bodies of ``bpe_tokenize``, ``pack_bins`` and
the JSON type-tree fold.  Driver-side tables (the
broadcast dimensions, query and checkpoint lists) enter a plan as JVM
``LocalRelation`` frames through :func:`ulp_spark.session.local_frame`,
never as a Python RDD; ``test_no_python_local_frames`` (in
``tests/test_training_ops.py``) keeps ``createDataFrame`` and
``parallelize`` calls out of the package.
"""

__version__ = "0.1.0"
