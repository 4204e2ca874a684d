"""Token-array columnar codec engine on PySpark.

Every engine mapper is unpickled in the Python worker by importing this
package, so the process-wide worker hardening is installed here.
"""

from .session import gate_zip_invalidation

gate_zip_invalidation()
