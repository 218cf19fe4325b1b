from bge_m3_onnx_spark.functions.tokenizer import tokenize_text

__all__ = ["tokenize_text"]
