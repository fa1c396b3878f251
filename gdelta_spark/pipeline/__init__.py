"""Spark pipeline: generator, partitioning, encode/decode jobs, warehouse."""

# Every Spark Python worker imports this package while unpickling kernels —
# before any Arrow deserialization runs. pyarrow's default thread pool is
# one-per-core PER PROCESS; with N workers that is N*cores threads fighting
# for N cores (measured: local[32] ran 4-5x SLOWER than local[8] until this).
import pyarrow as _pa

_pa.set_cpu_count(1)
_pa.set_io_thread_count(2)
