"""Function library: Spark implementations of reference functions.

The one reference-name -> Spark mapping is the dialect's
``plans.dialect.FUNC_MAP``; ``sql()``, ``api.search`` and the script
engine resolve every function name through it.  This package holds what
that mapping calls or cannot express as a template:

- ``scalar`` / ``aggregates``  Column builders the registry queries call,
                  and those of names the dialect does not serve with a
                  Spark expression (each module's docstring lists them)
- ``timeseries`` windowFunnel, retention, sequenceMatch, rate, deltaSum,
                  histogram (SURVEY §2.4 time-series family)
- ``stats``, ``states``  df-level statistical tests and -State/-Merge
                  partial states
- ``ch*``        exact reference algorithms (hashes, coding, geo, text,
                  ...) as Python UDFs the script engine registers
- ``nphash``     numpy hash kernels for pandas UDFs

Column builders take and return :class:`pyspark.sql.Column`, so they stay
JVM-side (whole-stage codegen).
"""
