"""Column kernels and codecs: the Arrow-batched pandas UDFs and the
pure-Python decoders they call. Import each submodule directly."""
