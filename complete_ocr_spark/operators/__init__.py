"""Arrow-batched extraction operators (``extract``)."""
