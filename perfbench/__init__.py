"""Lake benchmark: ingest, point-read and scan workloads over the
mobility-lake stores, with an optional traced run that attributes time and
Spark work to the package's layers. Entry point: ``perfbench/run.py``."""
